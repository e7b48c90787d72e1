"""Unit tests: the pipeline's heuristic metric kernel
(``textmetrics.metrics_one``, run inside the fused scoring UDF) matches
the oracle's independent pure-Python metrics on crafted edge-case
strings (hypothesis fuzz included). Both sides are plain Python, so no
Spark job runs per example."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from dataquality_cli_spark.functions.textmetrics import METRIC_FIELDS, metrics_one
from dataquality_cli_spark.oracle import _heuristic_metrics

EDGE_CASES = [
    "a",
    "a\nb\nc",
    "\n\n\n",
    "   \n\t\n x ",
    "x" * 2000,
    "line\n" * 50,
    "one two  three\n\nfour",
    "tab\tsep\ttokens",
    "unicode: héllo wörld ünïcode",
    "trailing newline\n",
    "\n",
    "a b\r\nc d\r\n",  # CR handled as blank-char
    "!@#$%^&*()" * 10,
    "",  # NULL content reaches the kernel as '' (fillna)
]

METRIC_KEYS = [
    "n_lines", "n_nonblank_lines", "blank_ratio", "max_line_len",
    "mean_line_len", "alnum_fraction", "dup_line_ratio", "max_token_len",
]


def _assert_matches_oracle(text):
    got = dict(zip(METRIC_FIELDS, metrics_one(text)))
    exp = _heuristic_metrics(text)
    assert set(got) == set(METRIC_KEYS)
    for k in METRIC_KEYS:
        g, e = got[k], exp[k]
        if isinstance(e, float):
            assert math.isclose(g, e, rel_tol=1e-12, abs_tol=1e-12), (k, repr(text), g, e)
        else:
            assert g == e, (k, repr(text), g, e)


def test_rules_match_oracle_on_edge_cases():
    for t in EDGE_CASES:
        _assert_matches_oracle(t)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\x00"),
               min_size=1, max_size=400))
def test_rules_match_oracle_fuzz(text):
    _assert_matches_oracle(text)
