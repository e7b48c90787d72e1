"""Pure-Python single-process reference implementation of the pipeline
rules (FIXTURES.md §1 oracle). Shares ONLY constants (config.py) and the
trained model objects with the Spark side; all heuristic/scrub logic here
is independent straight-line Python over strings — no Spark, no numpy,
no shared helpers — so it cross-checks the pipeline's batch kernels
(functions/textmetrics.py: metrics_one, scrub_one) written separately.

pytest compares Spark verdicts vs these labels at F1 >= 0.99 and checks
the sha256(content) invariant for kept-unmodified rows (north rule).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

from . import config as C
from .functions.models import get_models

BLANK_CHARS = " \t\r"

_SCRUB_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in C.SCRUB_RULES]


@dataclass
class OracleVerdict:
    repo: str
    path: str
    keep: bool
    drop_reason: str | None
    scrubbed_content: str | None
    content_sha256: str
    scrubbed_sha256: str | None
    hits: dict[str, int]


def _heuristic_metrics(content: str) -> dict:
    lines = content.split("\n")
    n = len(lines)
    blanks = sum(1 for l in lines if l.strip(BLANK_CHARS) == "")
    nonblank = [l for l in lines if l.strip(BLANK_CHARS) != ""]
    lens = [len(l) for l in lines]
    toks = re.split("[ \\t\\n\\x0B\\f\\r]+", content)
    alnum = sum(1 for ch in content if ch.isascii() and ch.isalnum())
    return {
        "n_lines": n,
        "n_nonblank_lines": len(nonblank),
        "blank_ratio": blanks / n,
        "max_line_len": max(lens),
        "mean_line_len": sum(lens) / n,
        "alnum_fraction": (alnum / len(content)) if content else 0.0,
        "dup_line_ratio": (1.0 - len(set(nonblank)) / len(nonblank)) if nonblank else 0.0,
        "max_token_len": max((len(t) for t in toks), default=0),
    }


def _heuristic_failures(m: dict) -> dict[str, bool]:
    return {
        "blank_ratio": m["blank_ratio"] > C.BLANK_RATIO_MAX,
        "line_length": m["max_line_len"] > C.MAX_LINE_LEN
        or m["mean_line_len"] > C.MEAN_LINE_LEN_MAX,
        "alnum": m["alnum_fraction"] < C.ALNUM_FRACTION_MIN,
        "dup_lines": m["dup_line_ratio"] > C.DUP_LINE_RATIO_MAX
        and m["n_nonblank_lines"] >= C.DUP_LINE_MIN_LINES,
        "max_token": m["max_token_len"] > C.MAX_TOKEN_LEN,
    }


def scrub(content: str) -> tuple[str, dict[str, int]]:
    hits = {name: len(rx.findall(content)) for name, rx, _ in _SCRUB_COMPILED}
    out = content
    for name, rx, repl in _SCRUB_COMPILED:
        out = rx.sub(repl, out)
    return out, hits


def judge(repo: str, path: str, content: str) -> OracleVerdict:
    if content is None:
        # pinned parity with the Spark pipeline, which fillna('')s content
        # before the fused UDF: null runs the NORMAL metric path as '',
        # where blank_ratio = 1.0 fails first in DROP_REASON_ORDER
        content = ""
    langid, lm = get_models()
    m = _heuristic_metrics(content)
    fails = _heuristic_failures(m)
    fails["perplexity"] = lm.ppl(content) > C.PPL_MAX
    fails["langid"] = langid.predict([content])[0] == C.LANGID_PROSE_CLASS

    drop_reason = next((r for r in C.DROP_REASON_ORDER if fails[r]), None)
    keep = drop_reason is None
    content_sha = hashlib.sha256(content.encode("utf-8", "replace")).hexdigest()
    if keep:
        scrubbed, hits = scrub(content)
        scrubbed_sha = hashlib.sha256(scrubbed.encode("utf-8", "replace")).hexdigest()
        return OracleVerdict(repo, path, True, None, scrubbed, content_sha, scrubbed_sha, hits)
    return OracleVerdict(repo, path, False, drop_reason, None, content_sha, None, {})


def judge_corpus(rows) -> list[OracleVerdict]:
    """rows: iterable of objects/tuples with repo, path, content."""
    out = []
    for r in rows:
        repo, path, content = r.repo, r.path, r.content
        out.append(judge(repo, path, content))
    return out
