"""Physical-plan linting: the 100 TB anti-pattern checks this repo
enforces on its own registry (tests/test_plans.py), packaged as a
user-facing API so any pipeline built on the engine can gate its own
plans the same way.

Rules (each finding: rule, severity, detail):

- ``global-window``     high  — a Window with NO partition keys funnels
  the whole input through one reducer (the classic scale cliff; see
  ops/scale.ranked_topk / distributed_rank for window-free rewrites).
- ``nested-loop-join``  high  — BroadcastNestedLoopJoin / Cartesian
  product: O(|L|·|R|) pair work. Legitimate only for bounded builds
  (1-row scalar broadcasts, constant panels) — pass those via
  ``allow_nested_loop``.
- ``python-row-boundary`` high — BatchEvalPython (row-at-a-time Python
  UDF) in the plan; 10-100× slower than JVM expressions. Arrow-batched
  (ArrowEvalPython / mapInPandas) boundaries report as ``medium``.
- ``scan-no-pushdown``  medium — a parquet scan with an empty
  PushedFilters list while the query filters: the predicate did not
  reach the scan.
- ``exchange-count``    info — number of shuffle exchanges (not wrong,
  but the first thing to minimize; bucketing/broadcast/pre-partition
  remove them).
"""

from __future__ import annotations

import contextlib
import io
import re
from typing import Any

from pyspark.sql import DataFrame


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _window_specs(formatted: str) -> list[str]:
    """Every complete ``windowspecdefinition(...)`` argument string in a
    formatted explain, extracted with a paren-depth scan — a flat regex
    truncates at the first ')' and misparses partition keys that are
    themselves expressions (``coalesce(a, b)``, ``CASE WHEN ...``)."""
    specs: list[str] = []
    marker = "windowspecdefinition("
    pos = 0
    while True:
        start = formatted.find(marker, pos)
        if start < 0:
            return specs
        i, depth = start + len(marker), 1
        while i < len(formatted) and depth > 0:
            c = formatted[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        specs.append(formatted[start + len(marker) : i - 1])
        pos = i


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren/bracket depth 0 only."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def lint_plan(
    df: DataFrame,
    allow_nested_loop: bool = False,
) -> list[dict[str, Any]]:
    """Lint a DataFrame's physical plan for scale anti-patterns.

    Returns findings sorted most-severe first; an empty list is the
    plan you want at 100 TB. Purely static — the query is not run.
    """
    formatted = _explain(df, "formatted")
    simple = _explain(df, "simple")
    findings: list[dict[str, Any]] = []

    # --- global (partition-less) windows.  A windowspecdefinition's
    # args are: partition cols, then "<expr> ASC/DESC ..." order
    # entries, then the specifiedwindowframe.  Both the spec extraction
    # and the first-token split are paren-depth-aware so partition keys
    # that are themselves expressions with commas/parens (coalesce(a,
    # b), CASE WHEN ...) are kept whole instead of producing a false
    # "global-window" finding.
    for inner in _window_specs(formatted):
        first = _split_top_level(inner)[0]
        if (
            " ASC" in first
            or " DESC" in first
            or first.startswith("specifiedwindowframe")
        ):
            findings.append(
                {
                    "rule": "global-window",
                    "severity": "high",
                    "detail": ("windowspecdefinition(" + inner)[:160],
                }
            )
            break

    if not allow_nested_loop:
        for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            if node in simple:
                findings.append(
                    {
                        "rule": "nested-loop-join",
                        "severity": "high",
                        "detail": node,
                    }
                )

    if "BatchEvalPython" in simple:
        findings.append(
            {
                "rule": "python-row-boundary",
                "severity": "high",
                "detail": "BatchEvalPython (row-at-a-time Python UDF)",
            }
        )
    elif "ArrowEvalPython" in simple:
        findings.append(
            {
                "rule": "python-row-boundary",
                "severity": "medium",
                "detail": "ArrowEvalPython (Arrow-batched Python)",
            }
        )

    has_filter = "Filter" in simple or "PushedFilters" in formatted
    for ln in formatted.splitlines():
        if "PushedFilters" in ln and "PushedFilters: []" in ln and has_filter:
            if re.search(r"\bFilter\b", simple):
                findings.append(
                    {
                        "rule": "scan-no-pushdown",
                        "severity": "medium",
                        "detail": ln.strip()[:160],
                    }
                )
                break

    n_exchanges = len(re.findall(r"\bExchange\b", simple))
    findings.append(
        {
            "rule": "exchange-count",
            "severity": "info",
            "detail": str(n_exchanges),
        }
    )
    order = {"high": 0, "medium": 1, "info": 2}
    findings.sort(key=lambda f: order[f["severity"]])
    return findings


def assert_plan_clean(df: DataFrame, allow_nested_loop: bool = False) -> None:
    """Raise ``AssertionError`` listing every high-severity finding —
    the CI-gate form of :func:`lint_plan`."""
    bad = [
        f
        for f in lint_plan(df, allow_nested_loop=allow_nested_loop)
        if f["severity"] == "high"
    ]
    assert not bad, f"plan anti-patterns: {bad}"


# ---------------------------------------------------- plan fingerprints

_FINGERPRINT_NORMALIZERS: tuple[tuple[str, str], ...] = (
    (r"#\d+[A-Za-z]*", "#x"),            # expression ids (#123, #45L)
    (r"plan_id=\d+", "plan_id=x"),
    (r"\[id=#?\d+\]", "[id=x]"),
    (r"Location: \S+", "Location: x"),   # scan file paths
    (r"file:[^\s,\]\)]+", "file:x"),
    (r"Statistics\([^)]*\)", "Statistics(x)"),  # size estimates drift
    (r"cachedPlan=[^\n]*", "cachedPlan=x"),
    (r"RDD\[\d+\]", "RDD[x]"),           # localCheckpoint RDD ids
    # RDD callsite frame names mutate mid-session when the JVM inflates
    # reflection accessors (`at NativeMethodAccessorImpl.java:0` becomes
    # `at <unknown>:0` after ~15 reflective calls)
    (r"\bat [^,\s]+:\d+", "at x:0"),
    (r"0x[0-9a-f]+", "0xX"),             # object addresses
    # higher-order-function variable names carry a SESSION-GLOBAL
    # monotonic counter (`lambda x_7` cold vs `lambda x_566` after other
    # queries planned in the same JVM) — the one id the `#\d+` rule
    # misses, found when the baseline test was order-dependent
    (r"\blambda ([A-Za-z]+)_\d+", r"lambda \1_n"),
)


def normalize_plan(plan: str, width: int) -> str:
    """Strip the session-varying parts of a formatted explain — expression
    ids, plan/RDD ids, file paths, size statistics — leaving exactly the
    OPERATOR SHAPE. Two sessions planning the same query produce the
    same normalized text (determinism is pytest-pinned across fresh
    sessions for all registry keys).

    ``width`` is the session's default parallelism: the partition count
    of a ``ops.scale.spread`` exchange (a ``REPARTITION_BY_NUM``
    exchange of that count) and the split count of a ``spark.range``
    given none. Only these counts are masked, so a plan normalizes to
    the same text on any number of cores."""
    for pat, rep in _FINGERPRINT_NORMALIZERS:
        plan = re.sub(pat, rep, plan)
    plan = re.sub(rf"\b{width}\), REPARTITION_BY_NUM\b", "W), REPARTITION_BY_NUM", plan)
    return plan.replace(f"splits=Some({width}))", "splits=Some(W))")


def plan_fingerprint(df: DataFrame) -> str:
    """16-hex-digit digest of the normalized physical plan. The change
    detector behind PLANHASH.json: a key whose fingerprint moves has
    had a plan rewrite, which must be deliberate, checked against the
    key's oracle and recorded with a regenerated baseline."""
    import hashlib

    width = df.sparkSession.sparkContext.defaultParallelism
    norm = normalize_plan(_explain(df, "formatted"), width)
    return hashlib.sha256(norm.encode()).hexdigest()[:16]
