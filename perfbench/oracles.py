"""Reference results that do not use the engine, and the result checker.

Every timed operation's output is compared here against an oracle
computed from the generated input alone: NumPy for PageRank, connected
components and max propagation, DuckDB for label propagation and the
triangle count, and the pinned per-document extractor for link
extraction. A check returns ``None`` when the result matches and a
one-line reason when it does not.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from pregel_spark.extraction import oracle_extract_links

RANK_RTOL = 1e-6
MASS_TOL = 1e-9


class Graph:
    """Deduplicated directed edges over dense int codes; codes follow
    the sorted string order of the vertex ids, so a minimum code is the
    lexicographic minimum id."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        pairs = pd.DataFrame({"src": src, "dst": dst}).drop_duplicates()
        self.ids, codes = np.unique(
            np.concatenate([pairs["src"].to_numpy(), pairs["dst"].to_numpy()]),
            return_inverse=True,
        )
        m = len(pairs)
        self.src, self.dst = codes[:m], codes[m:]
        self.n = len(self.ids)

    def undirected(self) -> tuple[np.ndarray, np.ndarray]:
        """Both directions of every non-loop edge, each exactly once."""
        keep = self.src != self.dst
        a = np.concatenate([self.src[keep], self.dst[keep]])
        b = np.concatenate([self.dst[keep], self.src[keep]])
        u = np.unique(a.astype(np.int64) * self.n + b)
        return u // self.n, u % self.n

    def edge_frame(self) -> pd.DataFrame:
        return pd.DataFrame({"src": self.ids[self.src], "dst": self.ids[self.dst]})


def pagerank_steps(g: Graph, d: float = 0.85, tol: float = 0.0, max_iter: int = 100):
    """Power iteration with the engine's semantics: uniform start,
    dangling mass spread uniformly, stop when max |delta| < tol (never
    when tol is 0). Returns (ranks by code, supersteps run)."""
    outdeg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    dangling = outdeg == 0
    share = 1.0 / outdeg[g.src]
    r = np.full(g.n, 1.0 / g.n)
    steps = 0
    for steps in range(1, max_iter + 1):
        s = np.bincount(g.dst, weights=r[g.src] * share, minlength=g.n)
        dm = r[dangling].sum()
        nxt = (1.0 - d) / g.n + d * (s + dm / g.n)
        delta = np.abs(nxt - r).max()
        r = nxt
        if tol > 0 and delta < tol:
            break
    return r, steps


def min_label_fixpoint(g: Graph) -> np.ndarray:
    """Connected components: every vertex takes the least code it can
    reach over undirected edges."""
    a, b = g.undirected()
    lab = np.arange(g.n)
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, b, lab[a])
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def max_value_rounds(g: Graph, values: np.ndarray, rounds: int) -> np.ndarray:
    """Max propagation over undirected edges: after ``rounds`` rounds
    each vertex holds the largest value within that many hops (the
    fixpoint once ``rounds`` reaches the graph's diameter)."""
    a, b = g.undirected()
    val = values.astype(np.int64).copy()
    for _ in range(rounds):
        nxt = val.copy()
        np.maximum.at(nxt, b, val[a])
        if np.array_equal(nxt, val):
            break
        val = nxt
    return val


def lpa_labels(g: Graph, rounds: int) -> pd.DataFrame:
    """Synchronous label propagation in DuckDB over the undirected
    graph: each round a vertex takes its neighbours' most frequent
    label, ties to the least label, and keeps its own when it has no
    neighbour. Returns (id, label)."""
    e = g.edge_frame()
    con = duckdb.connect()
    try:
        con.register("e0", e)
        con.execute(
            "CREATE TABLE ue AS SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst"
        )
        con.execute(
            "CREATE TABLE l0 AS SELECT id, id AS label FROM "
            "(SELECT src AS id FROM e0 UNION SELECT dst FROM e0)"
        )
        for k in range(1, rounds + 1):
            con.execute(
                f"""CREATE TABLE l{k} AS
                WITH c AS (SELECT ue.dst AS id, l.label AS cand, count(*) AS n
                           FROM ue JOIN l{k - 1} l ON l.id = ue.src
                           GROUP BY ue.dst, l.label),
                     p AS (SELECT id, cand FROM (
                           SELECT id, cand, ROW_NUMBER() OVER (
                               PARTITION BY id ORDER BY n DESC, cand ASC) AS rn
                           FROM c) WHERE rn = 1)
                SELECT l.id, COALESCE(p.cand, l.label) AS label
                FROM l{k - 1} l LEFT JOIN p ON p.id = l.id"""
            )
        return con.execute(f"SELECT id, label FROM l{rounds}").df()
    finally:
        con.close()


def triangle_total(g: Graph) -> int:
    """Triangles of the undirected simple graph, counted in DuckDB."""
    a, b = g.undirected()
    con = duckdb.connect()
    try:
        con.register("ue", pd.DataFrame({"s": a, "d": b}))
        return int(
            con.execute(
                "SELECT count(*) FROM ue x JOIN ue y ON x.d = y.s AND x.s < x.d "
                "AND y.s < y.d JOIN ue z ON z.s = x.s AND z.d = y.d"
            ).fetchone()[0]
        )
    finally:
        con.close()


def extracted_links(pages: pd.DataFrame) -> set[tuple[str, str]]:
    """The edge set link extraction must produce: every out-link of
    every page, self-links dropped, duplicates collapsed."""
    out = set()
    for url, html in zip(pages["url"], pages["html"]):
        out.update((url, t) for t in oracle_extract_links(html, url) if t != url)
    return out


# --------------------------------------------------------------- checks


def _aligned(g: Graph, df: pd.DataFrame, col: str) -> np.ndarray | str:
    """The result column in code order, or a reason it cannot be."""
    if len(df) != g.n or df["id"].duplicated().any():
        return f"{len(df)} result rows for {g.n} vertices"
    s = df.set_index("id")[col]
    missing = ~np.isin(g.ids, s.index.to_numpy())
    if missing.any():
        return f"{int(missing.sum())} vertices missing from the result"
    return s.reindex(g.ids).to_numpy()


def check_ranks(g: Graph, df: pd.DataFrame, expect: np.ndarray) -> str | None:
    got = _aligned(g, df, "rank")
    if isinstance(got, str):
        return got
    got = got.astype(np.float64)
    mass = got.sum()
    if abs(mass - 1.0) > MASS_TOL:
        return f"rank mass {mass!r} is not 1 within {MASS_TOL}"
    if not np.allclose(got, expect, rtol=RANK_RTOL, atol=0.0):
        worst = np.abs(got - expect).max()
        return f"ranks differ from power iteration (max abs diff {worst:.3g})"
    return None


def check_labels(g: Graph, df: pd.DataFrame, col: str, expect_codes: np.ndarray) -> str | None:
    got = _aligned(g, df, col)
    if isinstance(got, str):
        return got
    bad = got != g.ids[expect_codes]
    if bad.any():
        return f"{int(bad.sum())} of {g.n} {col} values differ from the fixpoint"
    return None


def check_values(g: Graph, df: pd.DataFrame, expect: np.ndarray) -> str | None:
    got = _aligned(g, df, "value")
    if isinstance(got, str):
        return got
    bad = got.astype(np.int64) != expect
    if bad.any():
        return f"{int(bad.sum())} of {g.n} values differ from max propagation"
    return None


def check_lpa(df: pd.DataFrame, expect: pd.DataFrame) -> str | None:
    m = expect.merge(df, on="id", how="outer", suffixes=("_want", "_got"))
    if len(m) != len(expect) or len(df) != len(expect):
        return f"{len(df)} result rows for {len(expect)} vertices"
    bad = m["label_want"] != m["label_got"]
    if bad.any():
        return f"{int(bad.sum())} of {len(m)} labels differ from DuckDB LPA"
    return None


def check_count(got: int, expect: int, what: str) -> str | None:
    return None if got == expect else f"{what} {got} != {expect}"


def check_edge_set(got: set, expect: set) -> str | None:
    if got == expect:
        return None
    return f"edge set differs: {len(got - expect)} extra, {len(expect - got)} missing"
