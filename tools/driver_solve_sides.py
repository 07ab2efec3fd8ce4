#!/usr/bin/env python
"""Time every driver-solve family on both sides of its cap, on both paths.

The six iterative operators (connected components, PageRank, k-hop and
temporal reachability, exact k-means, BPE training) solve on the driver
when ``tables.driver_table`` lets their input under
``tables.DRIVER_SOLVE_CELLS``, and run their distributed loop otherwise.
For each family this builds a synthetic input just under and just over
the family's cap (no data download) and times the operator twice per
size: once forced onto the driver (the ceiling raised when the input is
over it) and once forced distributed (the ceiling set to 0). Temporal
reachability is also timed between its cap and 2^21 edges, the range
the shared ceiling moved off the driver.

Usage: python tools/driver_solve_sides.py [--reps N] [--families a,b]
           [--out tools/driver_solve_sides.json]

Writes one JSON document with the CPU count, the Spark master and the
git HEAD it ran at; each entry holds the rows the probe saw, the path
that actually ran, and the best of ``--reps`` wall times in seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F  # noqa: E402

from kubenetmon_spark import tables  # noqa: E402
from kubenetmon_spark.operators import bpe, clustering, graph  # noqa: E402

#: the shipped ceiling (the runs below patch the module's value)
CEILING = tables.DRIVER_SOLVE_CELLS
#: ceiling that forces the driver path for every input built here
FORCE_DRIVER = 1 << 26


def _cap(row_cells: int) -> int:
    return CEILING // row_cells


def _edges(spark, n: int, deg: int = 8):
    """``n`` distinct directed edges, ``deg`` out-edges per source,
    no self-loops: src = i // deg, dst = src + 1 + (i % deg) * 997
    (mod the node count)."""
    nodes = max(n // deg, 8 * 997 + 2)
    return spark.range(n).select(
        (F.col("id") / deg).cast("long").alias("src"),
        (
            (F.floor(F.col("id") / deg) + 1 + (F.col("id") % deg) * 997)
            % nodes
        ).cast("long").alias("dst"),
    )


def build(spark, family: str, n: int):
    """A callable running ``family`` to completion on an input whose
    driver_table probe sees ``n`` rows (connected components: the
    nearest multiple of 10 at or below ``n``)."""
    if family == "connected_components":
        # clusters of 4 nodes on a path: 3 undirected edges -> 6
        # directed + 4 self-loops = 10 closure rows per cluster
        c = n // 10
        e = spark.range(c * 3).select(
            ((F.col("id") / 3).cast("long") * 4 + F.col("id") % 3).alias("src"),
            ((F.col("id") / 3).cast("long") * 4 + F.col("id") % 3 + 1).alias("dst"),
        ).localCheckpoint(eager=True)
        return lambda: graph.connected_components(e).write.format("noop").mode(
            "overwrite"
        ).save()
    if family == "pagerank_exact":
        e = _edges(spark, n).localCheckpoint(eager=True)
        return lambda: graph.pagerank_exact(e).write.format("noop").mode(
            "overwrite"
        ).save()
    if family == "k_hop_reachability":
        e = _edges(spark, n).localCheckpoint(eager=True)
        seeds = spark.range(10).select((F.col("id") * 101).alias("node"))
        return lambda: graph.k_hop_reachability(
            e, "src", "dst", seeds, 3
        ).write.format("noop").mode("overwrite").save()
    if family == "temporal_reachability":
        e = _edges(spark, n).withColumn(
            "ts", (F.col("src") * 7 + F.col("dst")) % 1000
        ).localCheckpoint(eager=True)
        seeds = spark.range(10).select(
            (F.col("id") * 101).alias("node"), F.lit(0).cast("long").alias("arrival")
        )
        return lambda: graph.temporal_reachability(
            e, "src", "dst", "ts", seeds, 4
        ).write.format("noop").mode("overwrite").save()
    if family == "kmeans_fit_exact":
        v = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.rand(j) for j in range(64)]).alias("embedding"),
        ).localCheckpoint(eager=True)
        return lambda: clustering.kmeans_fit_exact(v, k=8, n_iter=5)
    if family == "bpe_train":
        # n distinct 4-5 letter words, each twice: base-26 spellings
        docs = spark.range(2 * n).select(
            F.translate(
                F.conv((F.col("id") % n + 26**3).cast("string"), 10, 26),
                "0123456789abcdefghijklmnop",
                "abcdefghijklmnopqrstuvwxyz",
            ).alias("text")
        ).localCheckpoint(eager=True)
        return lambda: bpe.bpe_train(docs, "text", num_merges=20)
    raise ValueError(family)


#: family -> (cells per probed row, probed-row sizes to time)
FAMILIES = {
    "connected_components": (2, [_cap(2) - 2, _cap(2) + 8]),
    "pagerank_exact": (2, [_cap(2), _cap(2) + 8]),
    "k_hop_reachability": (2, [_cap(2), _cap(2) + 8]),
    "temporal_reachability": (
        3,
        [_cap(3) - 5, _cap(3) + 3, 1_750_000, 1 << 21],
    ),
    "kmeans_fit_exact": (64, [_cap(64), _cap(64) + 1]),
    "bpe_train": (64, [_cap(64), _cap(64) + 1]),
}


def _head():
    def git(*a):
        r = subprocess.run(
            ["git", "-C", str(ROOT), *a], capture_output=True, text=True
        )
        return r.stdout.strip()

    # dirty = the timed code differs from HEAD (the output file aside)
    status = git("status", "--porcelain", "--", "kubenetmon_spark", __file__)
    return git("rev-parse", "HEAD"), bool(status)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--families", default=",".join(FAMILIES))
    ap.add_argument("--out", default=str(ROOT / "tools/driver_solve_sides.json"))
    args = ap.parse_args()

    from kubenetmon_spark.session import get_spark

    # Python workers (the distributed k-means pass) import the package
    # too, from whatever directory the tool was started in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark("driver_solve_sides")
    spark.sparkContext.setLogLevel("ERROR")

    # what each driver_table call saw: its row count, or None (refused)
    probes: list = []

    def spy(df, row_cells):
        t = tables.driver_table(df, row_cells)
        probes.append(None if t is None else t.num_rows)
        return t

    for mod in (graph, clustering, bpe):
        mod.driver_table = spy

    entries = []
    warmed: set = set()
    for family in args.families.split(","):
        row_cells, sizes = FAMILIES[family]
        cap = _cap(row_cells)
        for n in sizes:
            run = build(spark, family, n)
            for path, ceiling in (("driver", FORCE_DRIVER), ("distributed", 0)):
                tables.DRIVER_SOLVE_CELLS = ceiling
                if (family, path) not in warmed:
                    run()  # first use: plan caches, Python workers
                    warmed.add((family, path))
                best = None
                for _ in range(args.reps):
                    probes.clear()
                    t0 = time.perf_counter()
                    run()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                ran = "driver" if probes and None not in probes else "distributed"
                if ran != path:
                    raise RuntimeError(f"{family} n={n}: {path} forced, {ran} ran")
                # the size the real ceiling would see: the driver run's
                # first probe moved the whole input
                if path == "driver":
                    rows = probes[0]
                entry = {
                    "family": family,
                    "rows": rows,
                    "cap": cap,
                    "side": "under" if rows <= cap else "over",
                    "path": path,
                    "seconds": round(best, 3),
                }
                entries.append(entry)
                print(json.dumps(entry), flush=True)
    tables.DRIVER_SOLVE_CELLS = CEILING

    head, dirty = _head()
    sc = spark.sparkContext
    doc = {
        "tool": "tools/driver_solve_sides.py",
        "head_sha": head,
        "dirty": dirty,
        "cpus": os.cpu_count(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_solve_cells": CEILING,
        "reps": args.reps,
        "entries": entries,
    }
    Path(args.out).write_text(json.dumps(doc, indent=1) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
