"""Batch (Arrow-vectorized) implementation of the per-file heuristic
metrics + scrub: the pipeline's only implementation of both, run inside
the fused scoring UDF (functions/udfs.py).

Why Python and not Column expressions: the interpreted higher-order-
function versions these replaced were ALLOCATION-BOUND — at 32 local
cores the single shared JVM heap turned young-gen GC into the
bottleneck (measured: per-op probes scale, the combined projection
anti-scales 13s@8 -> 19s@32; ParallelGC young pauses up to 3.9 s).
Python workers are separate processes with isolated heaps, so the same
work scales near-linearly (measured 89%% efficiency 8->32 procs), per
the north rule's 'vectorized pandas/Arrow UDFs (no per-row Python
UDFs) throughout'.

Semantics are PINNED to oracle.py (same blank chars, same token
separator, same regexes via the same `re` module — scrub parity is
exact by construction); tests/test_rules.py and tests/test_scrub.py
compare metrics_one / scrub_one with it directly.
"""

from __future__ import annotations

import re

import numpy as np

from .. import config as C

BLANK_CHARS = " \t\r"
_TOKEN_RE = re.compile("[ \\t\\n\\x0B\\f\\r]+")
_ALNUM_BYTES = bytes(
    (ch for ch in range(256)
     if chr(ch).isascii() and chr(ch).isalnum())
)
_SCRUB = [(name, re.compile(pat), repl) for name, pat, repl in C.SCRUB_RULES]

# cheap prescreens per scrub rule — each is a strict SUPERSET of its full
# pattern (if the full pattern matches anywhere, the gate fires), so
# gating changes nothing semantically (test_scrub parity vs oracle.scrub
# covers it); it skips the expensive findall for the common clean doc.
# Measured: full findall chain 315 us/doc, gates ~1-10 us each.
_IPV4_PRE = re.compile(r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d")
_IPV6_PRE = re.compile(r"[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}:[0-9A-Fa-f]{1,4}:")
_TOX_WORDS = tuple(w.lower() for w in C.TOXICITY_LEXICON)


def _tox_gate(t: str) -> bool:
    # ASCII-only fast path: for ASCII text, (?i) matching of an ASCII
    # lexicon word == lowercase substring presence. For non-ASCII text
    # the gate must NOT decide — re's (?i) uses Unicode casefolding that
    # str.lower() does not reproduce ('BELGİUM' matches (?i)belgium but
    # 'belgium' is not in 'BELGİUM'.lower()), so fall through to the
    # full regex there.
    if t.isascii():
        low = t.lower()
        return any(w in low for w in _TOX_WORDS)
    return True


_GATES = {
    # private_key's required "-----BEGIN" literal already fails fast in re
    "aws_key": lambda t: "AKIA" in t,
    "bearer": lambda t: "earer" in t,          # [Bb]earer
    "email": lambda t: "@" in t,
    "ipv4": lambda t: _IPV4_PRE.search(t) is not None,
    "ipv6": lambda t: _IPV6_PRE.search(t) is not None,
    "toxicity": _tox_gate,
}

METRIC_FIELDS = (
    "n_lines", "n_nonblank_lines", "blank_ratio", "max_line_len",
    "mean_line_len", "alnum_fraction", "dup_line_ratio", "max_token_len",
)


def metrics_one(t: str) -> tuple:
    """All 8 heuristic metrics for one text. C-speed building blocks only
    (str.split / bytes.translate / re.split / set)."""
    lines = t.split("\n")
    n = len(lines)
    nonblank = [l for l in lines if l.strip(BLANK_CHARS) != ""]
    n_nb = len(nonblank)
    lens = [len(l) for l in lines]
    b = t.encode("utf-8", "replace")
    alnum = len(b) - len(b.translate(None, _ALNUM_BYTES))
    max_tok = max((len(x) for x in _TOKEN_RE.split(t)), default=0)
    return (
        n,
        n_nb,
        (n - n_nb) / n,
        max(lens),
        sum(lens) / n,
        (alnum / len(t)) if t else 0.0,
        (1.0 - len(set(nonblank)) / n_nb) if n_nb else 0.0,
        max_tok,
    )


def scrub_one(t: str) -> tuple:
    """(scrubbed_text, hit_counts_in_SCRUB_RULES_order). Counts measured
    on the ORIGINAL text, replacement applied sequentially — identical
    contract to oracle.scrub (same module, same patterns). Rules whose
    superset gate doesn't fire count 0 without scanning."""
    hits = tuple(
        len(rx.findall(t)) if (g := _GATES.get(name)) is None or g(t) else 0
        for name, rx, _r in _SCRUB
    )
    out = t
    if any(hits):
        for _name, rx, repl in _SCRUB:
            out = rx.sub(repl, out)
    return out, hits


def score_batch(texts: list[str], langid, lm) -> dict[str, np.ndarray | list]:
    """Full per-file scoring for one Arrow batch: models + heuristics +
    scrub. Returns column arrays aligned with the input order."""
    n = len(texts)
    preds = langid.predict(texts)          # batch-vectorized (models.py)
    ppls = lm.ppl_batch(texts)             # one concat pass, no doc loop
    met = [metrics_one(t) for t in texts]
    scrubs = [scrub_one(t) for t in texts]
    out: dict[str, np.ndarray | list] = {
        "langid_pred": preds,
        "ppl": ppls,
    }
    for i, field in enumerate(METRIC_FIELDS):
        out[field] = [m[i] for m in met]
    for j, (name, _rx, _r) in enumerate(_SCRUB):
        out[f"hits_{name}"] = [s[1][j] for s in scrubs]
    out["scrubbed"] = [s[0] for s in scrubs]
    return out
