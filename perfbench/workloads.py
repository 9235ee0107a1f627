"""The benchmark's three workloads: inputs made from a seed, the timed
operations each runs through the public ``pregel_spark`` API, and the
oracle check of every result.

- ``webgraph``: a synthetic power-law web graph (``synth_edges``, 64
  hubs) runs PageRank for a fixed number of supersteps, label
  propagation for a fixed number of rounds, and the triangle count.
- ``crawl``: a fixed pages corpus (``write_pages``) goes through link
  extraction (the Arrow UDF tier), then connected components and a
  fixed number of max-propagation supersteps (the generic
  ``Pregel.run`` tier) on the extracted graph.
- ``resume``: on one fixed synthetic graph, PageRank to ``tol=1e-6``
  with checkpoints every 5 supersteps is stopped at a seed-chosen
  multiple of 5, then resumed on the same ``run_id`` to convergence.

Inputs are generated during set-up and are not timed. The engine only
ever sees the generated tables. The oracles, and crawl's pages, which
need no Spark, are made in a child process (``python3 -m
perfbench.workloads``), so that the driver's peak RSS counts neither.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pregel_spark.corpus import write_pages
from pregel_spark.graph import (
    connected_components,
    edges_from_pages,
    label_propagation,
    max_propagation,
    pagerank,
    triangle_count,
)
from pregel_spark.synth import synth_edges

from . import host, oracles
from .layers import OPS

TOL = 1e-6
CKPT_INTERVAL = 5

SIZES = {
    "full": {
        "webgraph": {"edges": 100_000, "hubs": 64, "pagerank_steps": 3, "lpa_rounds": 1},
        "crawl": {"pages": 5_000, "sites": 8, "maxprop_supersteps": 2, "corpus_seed": 0},
        "resume": {"edges": 5_000, "hubs": 64, "graph_seed": 0},
    },
    "smoke": {
        "webgraph": {"edges": 20_000, "hubs": 64, "pagerank_steps": 3, "lpa_rounds": 1},
        "crawl": {"pages": 500, "sites": 8, "maxprop_supersteps": 2, "corpus_seed": 0},
        "resume": {"edges": 1_000, "hubs": 16, "graph_seed": 0},
    },
}


def force(df) -> None:
    """Compute a DataFrame to the end without collecting it."""
    df.write.format("noop").mode("overwrite").save()


class OpResult:
    """What one timed operation produced: its wall, its superstep walls
    and the work it did (for extraction, ``edges`` is the number of
    links it produced), and the oracle verdict (None = correct)."""

    def __init__(self, op: str):
        self.op = op
        self.wall_s = 0.0
        self.steps_ms: list[float] = []
        self.edges = 0
        self.pages = 0
        self.error: str | None = None

    @property
    def supersteps(self) -> int:
        return len(self.steps_ms)


class Workload:
    """Inputs and operations of one workload on one seed."""

    def __init__(self, name: str, seed: int, sizes: dict, run_dir: str):
        self.name, self.seed, self.sizes, self.run_dir = name, seed, sizes, run_dir
        self.input_dir = os.path.join(run_dir, "input")
        self.ckpt_dir = os.path.join(run_dir, "ckpt")
        self.tables: dict = {}
        self.ops = OPS[name]
        self.facts: dict = {}
        #: bytes of checkpoints on disk at the end of each cycle
        self.ckpt_bytes: list[int] = []
        #: an op whose collected output is altered before the check, to
        #: show that the checker catches a wrong result
        self.perturb: str | None = None

    # ------------------------------------------------------------ inputs

    # crawl and resume run on one fixed corpus or graph, as on a fixed
    # real table, so every seed extracts the same links and needs the
    # same number of supersteps; the seed picks the max-propagation
    # values and where the resumed run is interrupted

    def generate(self, spark) -> None:
        """Write the seeded edge table as parquet (not timed); crawl's
        inputs are written by :meth:`prepare`."""
        os.makedirs(self.input_dir, exist_ok=True)
        if self.name != "crawl":
            s = self.sizes
            seed = s.get("graph_seed", self.seed)
            synth_edges(spark, s["edges"], n_hubs=s["hubs"], seed=seed).write.parquet(self._path("edges"))

    def _write_pages(self) -> None:
        s = self.sizes
        write_pages(self._path("pages"), n_pages=s["pages"], n_sites=s["sites"], seed=s["corpus_seed"])
        ids = pq.read_table(self._path("pages"), columns=["url"]).column("url")
        rng = np.random.default_rng(self.seed)
        values = pa.table({"id": ids, "value": rng.integers(0, 1_000_000, len(ids))})
        pq.write_table(values, self._path("values"))

    def prepare(self) -> None:
        """Write crawl's inputs, then compute the oracles, in a child
        process that has ended when this returns (not timed)."""
        out = os.path.join(self.input_dir, "facts.pickle")
        spec = json.dumps({"name": self.name, "seed": self.seed, "sizes": self.sizes, "run_dir": self.run_dir})
        subprocess.run([sys.executable, "-m", "perfbench.workloads", spec, out], check=True, stdout=sys.stderr)
        with open(out, "rb") as f:
            self.facts = pickle.load(f)

    def _path(self, table: str) -> str:
        return os.path.join(self.input_dir, f"{table}.parquet")

    def table_names(self) -> tuple[str, ...]:
        return ("pages", "values") if self.name == "crawl" else ("edges",)

    def load(self, spark) -> None:
        """Set-up: read every input table, persist and count it."""
        self.tables = {}
        for t in self.table_names():
            df = spark.read.parquet(self._path(t)).persist()
            df.count()
            self.tables[t] = df

    def release(self) -> None:
        for df in self.tables.values():
            df.unpersist()
        self.tables = {}

    # ----------------------------------------------------------- oracles

    def prepare_oracles(self) -> None:
        """Reference results from the input files alone (not timed)."""
        s, f = self.sizes, self.facts
        if self.name == "crawl":
            pages = pq.read_table(self._path("pages"), columns=["url", "html"]).to_pandas()
            links = oracles.extracted_links(pages)
            src, dst = zip(*sorted(links))
            g = oracles.Graph(np.array(src), np.array(dst))
            vals = pq.read_table(self._path("values")).to_pandas().set_index("id")["value"]
            init = vals.reindex(g.ids).fillna(0).to_numpy(np.int64)
            f.update(
                pages=len(pages),
                links=links,
                graph=g,
                cc=oracles.min_label_fixpoint(g),
                # superstep 1 only announces values, so each later
                # superstep moves them one hop
                maxprop=oracles.max_value_rounds(g, init, s["maxprop_supersteps"] - 1),
            )
        else:
            e = pq.read_table(self._path("edges"), columns=["src", "dst"]).to_pandas()
            g = oracles.Graph(e["src"].to_numpy(), e["dst"].to_numpy())
            f["graph"] = g
            if self.name == "webgraph":
                f["pagerank"], _ = oracles.pagerank_steps(g, max_iter=s["pagerank_steps"])
                f["lpa"] = oracles.lpa_labels(g, s["lpa_rounds"])
                f["triangles"] = oracles.triangle_total(g)
            else:
                f["converged"], f["steps"] = oracles.pagerank_steps(g, tol=TOL)
                if f["steps"] <= CKPT_INTERVAL:
                    raise ValueError(f"resume graph converges in {f['steps']} supersteps")
                # the interruption point: a multiple of the checkpoint
                # interval strictly before convergence, chosen by the seed
                k = (f["steps"] - 1) // CKPT_INTERVAL
                f["stop_at"] = CKPT_INTERVAL * (1 + self.seed % k)
                f["partial"], _ = oracles.pagerank_steps(g, max_iter=f["stop_at"])
        f["edges"] = len(g.src)
        f["vertices"] = g.n

    def _pagerank_ckpt(self, spark, run_id: str, max_iter: int, resume: bool):
        return pagerank(
            spark,
            self.tables["edges"],
            tol=TOL,
            max_iter=max_iter,
            checkpoint_dir=self.ckpt_dir,
            run_id=run_id,
            checkpoint_interval=CKPT_INTERVAL,
            resume=resume,
        )

    # ------------------------------------------------------- operations

    def run_cycle(self, spark, cycle: int, span) -> list[OpResult]:
        """Run every operation once, in order. ``span(name)`` is a
        context manager around each call (a no-op when not tracing)."""
        out = []
        state: dict = {}
        for op in self.ops:
            r = OpResult(op)
            try:
                with span(f"op.{op}"):
                    t0 = time.perf_counter()
                    res = self._call(spark, op, cycle, state, span)
                    r.wall_s = time.perf_counter() - t0
                r.error = self._check(op, res, r)
            except Exception as exc:  # an op that raises is a failed op
                r.error = f"{type(exc).__name__}: {exc}"
            out.append(r)
        if "edges" in state:
            state["edges"].unpersist()
        self.ckpt_bytes.append(host.du(self.ckpt_dir))
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        return out

    def _call(self, spark, op, cycle, state, span):
        s, t = self.sizes, self.tables
        if op == "extract":
            edges = edges_from_pages(t["pages"]).persist()
            with span("force"):
                force(edges)
            state["edges"] = edges
            return edges
        if op == "triangles":
            return triangle_count(t["edges"]).collect()[0]["n_triangles"]
        if op == "pagerank" and self.name == "webgraph":
            res = pagerank(spark, t["edges"], tol=0.0, max_iter=s["pagerank_steps"])
        elif op == "pagerank":
            res = self._pagerank_ckpt(spark, f"c{cycle}", self.facts["stop_at"], resume=False)
        elif op == "resume":
            res = self._pagerank_ckpt(spark, f"c{cycle}", 100, resume=True)
        elif op == "lpa":
            res = label_propagation(spark, t["edges"], max_iter=s["lpa_rounds"])
        elif op == "cc":
            res = connected_components(spark, state["edges"])
        elif op == "maxprop":
            res = max_propagation(
                spark, t["values"], state["edges"], max_supersteps=s["maxprop_supersteps"]
            )
        else:
            raise ValueError(f"unknown op {op!r}")
        with span("force"):
            force(res.vertices)
        return res

    def _check(self, op: str, res, r: OpResult) -> str | None:
        """Record the op's work and compare its output to the oracle."""
        f = self.facts
        g = f["graph"]
        r.edges = f["edges"]
        if op == "extract":
            r.pages = f["pages"]
            got = res.select("src", "dst").toPandas()
            r.edges = len(got)
            got = self._maybe_perturb(op, got)
            return oracles.check_edge_set(set(zip(got["src"], got["dst"])), f["links"])
        if op == "triangles":
            return oracles.check_count(self._maybe_perturb(op, res), f["triangles"], "triangle count")
        r.steps_ms = [m["wall_ms"] for m in res.metrics]
        df = self._maybe_perturb(op, res.vertices.toPandas())
        if op == "pagerank" and self.name == "webgraph":
            want = self.sizes["pagerank_steps"]
            return _first(
                oracles.check_count(res.supersteps, want, "supersteps"),
                oracles.check_ranks(g, df, f["pagerank"]),
            )
        if op == "pagerank":
            return _first(
                oracles.check_count(res.supersteps, f["stop_at"], "supersteps"),
                oracles.check_ranks(g, df, f["partial"]),
            )
        if op == "resume":
            # the resumed run ends where an uninterrupted power iteration
            # converges, with the same ranks
            return _first(
                oracles.check_count(res.supersteps, f["steps"], "resumed supersteps"),
                oracles.check_ranks(g, df, f["converged"]),
            )
        if op == "lpa":
            return oracles.check_lpa(df, f["lpa"])
        if op == "cc":
            return oracles.check_labels(g, df, "component", f["cc"])
        if op == "maxprop":
            return oracles.check_values(g, df, f["maxprop"])
        raise ValueError(f"unknown op {op!r}")

    def _maybe_perturb(self, op: str, got):
        if op != self.perturb:
            return got
        if isinstance(got, int):
            return got + 1
        got = got.copy()
        col = got.columns[-1]
        if pd.api.types.is_numeric_dtype(got[col]):
            got.loc[got.index[0], col] = got[col].iloc[0] * 2 + 1
        else:
            got.loc[got.index[0], col] = got[col].iloc[0] + "#"
        return got


def _first(*errors):
    return next((e for e in errors if e), None)


if __name__ == "__main__":
    # the child of Workload.prepare: argv is the workload's spec as JSON
    # and the file to pickle its facts to
    spec = json.loads(sys.argv[1])
    wl = Workload(spec["name"], spec["seed"], spec["sizes"], spec["run_dir"])
    if wl.name == "crawl":
        wl._write_pages()
    wl.prepare_oracles()
    with open(sys.argv[2], "wb") as f:
        pickle.dump(wl.facts, f)
