"""Seeded input generators owned by the benchmark.

Nothing here imports the package under test: a change to the package
must never change a workload. Every generator is a pure function of its
seed and size, writes its files with pyarrow or plain Python (no Spark,
so generation never shares a clock with a metric), and the caller
records a digest of the rows, so two runs with the same seed can be
shown to have used the same inputs.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# filter: synthetic code files (repo, path, commit, lang, content)
# ---------------------------------------------------------------------------

_WORDS = (
    "data value index count total result buffer record field table row col "
    "node item entry cache queue stack batch chunk offset limit size name "
    "key user event order price state flag token parser writer reader config"
).split()
_PROSE = (
    "the quick brown fox jumps over a lazy dog while many people walk "
    "through ancient streets and rivers flow gently past old stone bridges "
    "under autumn skies where children laugh and merchants sell warm bread "
    "every morning because history lives quietly in small familiar things"
).split()
_SWEAR = ("frak", "gorram", "smeghead", "shazbot")

# (stratum, weight): eleven strata, one per drop reason or scrub case
STRATA = (
    ("clean", 38), ("blank_heavy", 7), ("long_line", 6), ("long_token", 6),
    ("dup_heavy", 7), ("low_alnum", 6), ("prose", 7), ("gibberish", 7),
    ("pii", 9), ("toxic", 5), ("pii_blank", 2),
)
_EXT = {"python": ".py", "javascript": ".js", "go": ".go"}


def _ident(rng: random.Random) -> str:
    return f"{rng.choice(_WORDS)}_{rng.choice(_WORDS)}{rng.randrange(100)}"


def _python(rng: random.Random) -> str:
    out = ["import os", "import sys", "from typing import Dict, List", ""]
    for _ in range(rng.randrange(2, 6)):
        fn, a, b = _ident(rng), _ident(rng), _ident(rng)
        out += [
            f"def {fn}({a}: int, {b}: str) -> Dict[str, int]:",
            f"    \"\"\"Compute {fn} over the given {a}.\"\"\"",
            "    result = {}",
            f"    for i in range({a}):",
            f"        key = f\"{{{b}}}_{{i}}\"",
            f"        result[key] = i * {rng.randrange(2, 97)} + {rng.randrange(1000)}",
            f"    if len(result) > {rng.randrange(5, 50)}:",
            "        return dict(sorted(result.items()))",
            "    return result",
            "",
        ]
    return "\n".join(out)


def _javascript(rng: random.Random) -> str:
    out = ["'use strict';", "const path = require('path');", ""]
    for _ in range(rng.randrange(2, 6)):
        fn, a, b = _ident(rng), _ident(rng), _ident(rng)
        out += [
            f"function {fn}({a}, {b}) {{",
            "  const result = new Map();",
            f"  for (let i = 0; i < {a}.length; i++) {{",
            f"    const key = `${{{b}}}-${{i}}`;",
            f"    result.set(key, i * {rng.randrange(2, 97)} + {rng.randrange(1000)});",
            "  }",
            f"  return Array.from(result.entries()).filter(([k, v]) => v > {rng.randrange(10)});",
            "}",
            "",
        ]
    return "\n".join(out)


def _go(rng: random.Random) -> str:
    out = ["package main", "", "import (", '\t"fmt"', '\t"strings"', ")", ""]
    for _ in range(rng.randrange(2, 6)):
        fn = _ident(rng).title().replace("_", "")
        a, b = _ident(rng), _ident(rng)
        out += [
            f"func {fn}({a} int, {b} string) map[string]int {{",
            f"\tresult := make(map[string]int, {a})",
            f"\tfor i := 0; i < {a}; i++ {{",
            f"\t\tkey := fmt.Sprintf(\"%s-%d\", {b}, i)",
            f"\t\tresult[key] = i*{rng.randrange(2, 97)} + {rng.randrange(1000)}",
            "\t}",
            f"\tif strings.Contains({b}, \"x\") {{",
            "\t\treturn nil",
            "\t}",
            "\treturn result",
            "}",
            "",
        ]
    return "\n".join(out)


_CODE = {"python": _python, "javascript": _javascript, "go": _go}


def _prose(rng: random.Random) -> str:
    return "\n".join(
        " ".join(rng.choice(_PROSE) for _ in range(rng.randrange(9, 16))).capitalize() + "."
        for _ in range(rng.randrange(10, 18)))


def _gibberish(rng: random.Random) -> str:
    abc = "abcdefghijklmnopqrstuvwxyz0123456789"
    return "\n".join(
        " ".join("".join(rng.choice(abc) for _ in range(rng.randrange(3, 12)))
                 for _ in range(rng.randrange(6, 12)))
        for _ in range(20))


def _blank_heavy(rng: random.Random, code: str) -> str:
    out = []
    for ln in code.split("\n"):
        out.append(ln)
        out.extend([""] * rng.randrange(1, 4))
    return "\n".join(out)


def _with_pii(rng: random.Random, code: str) -> str:
    ip = ".".join(str(rng.randrange(1, 255)) for _ in range(4))
    key = "AKIA" + "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789") for _ in range(16))
    lines = code.split("\n")
    lines[1:1] = [f"# contact: {rng.choice(_WORDS)}.{rng.randrange(99)}@example.com",
                  f"HOST = '{ip}'", f"ACCESS_KEY = '{key}'"]
    return "\n".join(lines)


def _content(stratum: str, lang: str, rng: random.Random) -> str:
    code = _CODE[lang](rng)
    if stratum == "clean":
        return code
    if stratum == "blank_heavy":
        return _blank_heavy(rng, code)
    if stratum == "long_line":
        parts = []
        while sum(len(p) + 1 for p in parts) < 2500:
            parts.append(f"var {_ident(rng)}={rng.randrange(10 ** 6)};")
        return " ".join(parts)
    if stratum == "long_token":
        blob = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/")
                       for _ in range(320))
        lines = code.split("\n")
        lines.insert(3, f'payload = "{blob}"')
        return "\n".join(lines)
    if stratum == "dup_heavy":
        stamp = [f"register('{_ident(rng)}')" for _ in range(3)]
        return "\n".join(["// generated"] + [rng.choice(stamp) for _ in range(40)])
    if stratum == "low_alnum":
        soup = "=+-*/<>(){}[]|&^%$#@!~;:,."
        return "\n".join(
            " ".join("".join(rng.choice(soup) for _ in range(rng.randrange(4, 10)))
                     for _ in range(rng.randrange(5, 10)))
            for _ in range(18))
    if stratum == "prose":
        return _prose(rng)
    if stratum == "gibberish":
        return _gibberish(rng)
    if stratum == "pii":
        return _with_pii(rng, code)
    if stratum == "toxic":
        lines = code.split("\n")
        lines.insert(1, f"# this {rng.choice(_SWEAR)} module is a {rng.choice(_SWEAR)} mess")
        return "\n".join(lines)
    if stratum == "pii_blank":
        return _blank_heavy(rng, _with_pii(rng, code))
    raise ValueError(stratum)


def code_files(n: int, seed: int) -> list[tuple[str, str, str, str, str]]:
    """n rows of (repo, path, commit, lang, content). The stratum mix
    follows STRATA; repos are skewed, with 30 % of files in two giant
    repositories."""
    rng = random.Random(seed)
    names = [s for s, w in STRATA for _ in range(w)]
    langs = tuple(_CODE)
    rows = []
    for i in range(n):
        stratum = rng.choice(names)
        lang = rng.choice(langs)
        if rng.random() < 0.30:
            repo = f"bigorg/mono{rng.randrange(2)}"
        else:
            repo = f"org{rng.randrange(20)}/repo{rng.randrange(3)}"
        path = f"src/{_ident(rng)}/{i}_{_ident(rng)}{_EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, _content(stratum, lang, rng)))
    return rows


# ---------------------------------------------------------------------------
# dedup: documents with planted exact duplicates and near-dup clusters
# ---------------------------------------------------------------------------

# near-dup cluster sizes per 1,000 documents: most documents are
# singletons, some sit in clusters of 2-5, and one cluster of hundreds
# fills LSH buckets past the operator's default bucket cap
CLUSTERS_PER_1000 = ((1, 560), (2, 40), (3, 25), (4, 15), (5, 10), (150, 1))
EXACT_COPIES_PER_1000 = 60  # documents that repeat another document's text


def _doc(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS + _PROSE) + str(rng.randrange(40))
                    for _ in range(rng.randrange(40, 80)))


def _near_copy(rng: random.Random, text: str) -> str:
    """Swap a few words: the shingle Jaccard to the base stays high."""
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 40)):
        toks[rng.randrange(len(toks))] = rng.choice(_WORDS) + str(rng.randrange(40))
    return " ".join(toks)


def dedup_plan(n_thousands: int) -> dict:
    """What dedup_docs plants for a corpus of n_thousands * 1,000 docs."""
    sizes = {s: c * n_thousands for s, c in CLUSTERS_PER_1000}
    n_texts = sum(s * c for s, c in sizes.items())
    return {"cluster_sizes": sizes, "distinct_texts": n_texts,
            "exact_copies": EXACT_COPIES_PER_1000 * n_thousands,
            "docs": n_texts + EXACT_COPIES_PER_1000 * n_thousands}


def dedup_docs(n_thousands: int, seed: int) -> tuple[list[tuple[int, str]], list[list[str]]]:
    """(doc_id, text) rows laid out as dedup_plan says, in seeded order,
    and the planted near-dup clusters, each a list of distinct texts
    whose first is the one the others were copied from. Every text of
    every cluster is one that exact dedup must keep. The plan is the
    same for every seed; only the texts and their order change, so
    every seed asks the operators for the same work."""
    rng = random.Random(seed)
    clusters: list[list[str]] = []
    distinct: set[str] = set()

    def add(cluster: list[str], make) -> None:
        text = make()
        while text in distinct:  # a swap can redraw the same word
            text = make()
        cluster.append(text)
        distinct.add(text)

    for size, count in dedup_plan(n_thousands)["cluster_sizes"].items():
        for _ in range(count):
            cluster: list[str] = []
            add(cluster, lambda: _doc(rng))
            for _ in range(size - 1):
                add(cluster, lambda: _near_copy(rng, cluster[0]))
            clusters.append(cluster)
    texts = [t for c in clusters for t in c]
    texts += [rng.choice(texts) for _ in range(EXACT_COPIES_PER_1000 * n_thousands)]
    rng.shuffle(texts)
    return list(enumerate(texts)), clusters


# ---------------------------------------------------------------------------
# writing + digests
# ---------------------------------------------------------------------------

def write_parquet(path: str, names: tuple[str, ...], types: tuple, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table({n: pa.array(c, type=t) for n, t, c in zip(names, types, cols)})
    pq.write_table(table, path)


def digest_rows(rows) -> str:
    """sha256 over the repr of every generated row, in order."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()
