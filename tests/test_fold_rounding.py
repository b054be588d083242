"""Guard: registry float folds must use one rounding discipline on both sides.

Round 7 shipped `cramers_v_corrected_segment_priority` folding the
6-dp-ROUNDED `chi2_term` column published by
`analytics.contingency_chi2` while its DuckDB oracle folded UNROUNDED
per-cell terms.  The two sums agree to ~1e-7, so the final
``ROUND(chi2, 6)`` lands on the same side of the half-way boundary at
most scales — but at sf0.001 it didn't (Spark 20.101934 vs DuckDB
20.101935).  This test pins the asymmetry class mechanically: any
registry entry whose Spark source folds a column that an operator
publishes PRE-ROUNDED must have an oracle whose corresponding
``LIST_REDUCE(LIST(...))`` folds a per-term ``ROUND(...)`` (either
inline or via a column the SQL itself defines with ``ROUND(...) AS``).

It fails on the unfixed round-7 SQL and passes on the aligned one.
"""

from __future__ import annotations

import inspect
import re

from ascii_hydra_spark.verification import REGISTRY

def _pre_rounded_published() -> "list[tuple[str, str]]":
    """(operator-fn-name, column) pairs for every operator that PUBLISHES
    a ROUND(...,N).alias("col") column — derived mechanically from the
    operator modules, so a new rounded-output operator is guarded the day
    it lands, not when someone remembers to extend a manual list. An
    entry that folds such a column is folding N-dp inputs and its oracle
    must round per-term too."""
    from ascii_hydra_spark.operators import (
        analytics, asof, clustering, corpus, crawl, dedup, distrank,
        graph, mleval, relational, retrieval, similarity, sketches,
        text, windows,
    )

    mods = (
        analytics, asof, clustering, corpus, crawl, dedup, distrank,
        graph, mleval, relational, retrieval, similarity, sketches,
        text, windows,
    )
    pat = re.compile(
        r'F\.round\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*?,\s*\d+\s*\)'
        r'\s*\.alias\(\s*"([a-z0-9_]+)"',
        re.S,
    )
    out = []
    for m in mods:
        for fname, fn in inspect.getmembers(m, inspect.isfunction):
            if fn.__module__ != m.__name__:
                continue
            try:
                src = inspect.getsource(fn)
            except OSError:  # pragma: no cover
                continue
            for col in set(pat.findall(src)):
                out.append((fname, col))
    return out


PRE_ROUNDED_PUBLISHED = _pre_rounded_published()


def _fold_inner_exprs(sql: str) -> list[str]:
    """Each LIST_REDUCE(LIST(<expr> [ORDER BY ...])) inner <expr>."""
    out = []
    marker = "LIST_REDUCE(LIST("
    i = 0
    while True:
        j = sql.find(marker, i)
        if j < 0:
            break
        start = j + len(marker)
        depth = 0
        k = start
        while k < len(sql):
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    break
                depth -= 1
            k += 1
        inner = re.split(r"\bORDER\s+BY\b", sql[start:k], flags=re.I)[0]
        out.append(inner.strip())
        i = k
    return out


def _is_per_term_rounded(inner: str, sql: str) -> bool:
    if inner.upper().startswith("ROUND("):
        return True
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", inner):
        # bare column: rounded iff the SQL defines it as ROUND(...) AS col
        pat = re.compile(
            r"ROUND\s*\((?:[^()]|\([^()]*\))*,\s*\d+\s*\)\s*AS\s+"
            + re.escape(inner)
            + r"\b",
            re.I | re.S,
        )
        return bool(pat.search(sql))
    return False


def test_pre_rounded_fold_has_rounded_oracle():
    hits = 0
    for name, spec in REGISTRY.items():
        if spec.sql is None or "LIST_REDUCE(LIST(" not in spec.sql:
            continue
        src = inspect.getsource(spec.fn)
        for op_marker, col in PRE_ROUNDED_PUBLISHED:
            if op_marker not in src:
                continue
            if f'x["{col}"]' not in src and f"x['{col}']" not in src:
                continue
            hits += 1
            # the matching oracle fold: any fold whose inner references
            # the published column by name; when none does (the round-7
            # shape re-derived the expression inline, e.g. from n_obs),
            # every fold is suspect and must be rounded
            inners = _fold_inner_exprs(spec.sql)
            folds = [x for x in inners if col in x] or inners
            assert folds, f"{name}: Spark folds {col} but oracle has no matching fold"
            for inner in folds:
                assert _is_per_term_rounded(inner, spec.sql), (
                    f"{name}: Spark folds {op_marker}'s 6-dp-ROUNDED {col} "
                    f"but the oracle folds an UNROUNDED expression "
                    f"({inner[:80]}...) — sf0.001 boundary-bug class; round "
                    f"per-term on both sides or fold raw terms on both sides"
                )
    # the guard must actually be exercising the cramers entry
    assert hits >= 1, "guard matched no entries — PRE_ROUNDED_PUBLISHED stale"


def test_guard_detects_the_round7_defect():
    """The guard must fail on the round-7 (unfixed) oracle shape."""
    unfixed_inner = (
        "(CAST(n_obs AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(n_obs AS DOUBLE) - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    assert not _is_per_term_rounded(unfixed_inner, unfixed_inner)
    fixed_inner = "ROUND(" + unfixed_inner + ", 6)"
    assert _is_per_term_rounded(fixed_inner, fixed_inner)
