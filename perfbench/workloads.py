"""The benchmark workloads: inputs from a seed, one run, output checks.

A workload builds its inputs in ``prepare`` (cheap, repeatable) and
any committed state in ``load``. ``restore`` puts that state back
before each run. ``run`` does one unit of work and is the only timed
part; ``outputs`` turns its result into checksums and counts, and
``failures`` compares those with the first warm-up run's (``ref``)
and with the fixed gates.
"""

from __future__ import annotations

import shutil
from contextlib import nullcontext
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

RECALL_FLOOR = 0.99


def no_span(name: str):
    return nullcontext()


def _recall(pairs: pd.DataFrame, cluster_of: dict) -> float:
    if pairs.empty:
        return 1.0
    hit = sum(a in cluster_of and cluster_of[a] == cluster_of.get(b)
              for a, b in zip(pairs["url_a"], pairs["url_b"]))
    return hit / len(pairs)


def _tree_mb(root: Path) -> float:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file()) / 2**20


def _differ(got: dict, ref: dict, keys: tuple[str, ...]) -> list[str]:
    return [f"{k}: {got[k]!r} != {ref[k]!r}" for k in keys if got[k] != ref[k]]


class DedupSmall:
    """``run_pipeline`` (no catalog) + the survivor count, on a
    generated corpus loaded from parquet the way bench.py loads
    documents."""

    name = "dedup_small"
    # the first run in a JVM is cold (class loading, codegen); the
    # second still compiles hot code (~25% more CPU than the third)
    warm_ups = 2

    def __init__(self, spark, seed: int, work: Path, smoke: bool):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_docs = 500 if smoke else 1000

    def prepare(self) -> None:
        from acxspark.corpus import generate

        corpus = generate(n_docs=self.n_docs, seed=self.seed)
        self.truth = corpus.truth_pairs
        self.n_truth_clusters = int(corpus.truth_clusters["cluster_id"].nunique())
        path = self.work / "corpus.parquet"
        corpus.webpages[["url", "text"]].to_parquet(path, index=False)
        self.docs = self.spark.read.parquet(str(path)).select("url", "text")
        self.docs_in = len(corpus.webpages)

    def load(self) -> None:
        pass

    def restore(self) -> None:
        pass

    def run(self, span=no_span):
        from acxspark.config import DedupConfig
        from acxspark.plans import pipeline

        res = pipeline.run_pipeline(self.docs, cfg=DedupConfig(), text_col="text")
        with span("survivors"):
            row = res.survivors.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64("url")), F.lit(0)).alias("h"),
            ).collect()[0]
        return res, int(row["n"]), int(row["h"])

    def outputs(self, out) -> dict:
        res, n, h = out
        clusters = res.clusters.toPandas()
        res.release()
        self.spark.catalog.clearCache()
        return {"survivors": n, "survivor_checksum": h,
                "recall": _recall(self.truth, dict(zip(clusters["url"],
                                                       clusters["cluster_id"]))),
                "truth_clusters": self.n_truth_clusters}

    def failures(self, got: dict, ref: dict) -> list[str]:
        bad = _differ(got, ref, ("survivors", "survivor_checksum"))
        if got["recall"] < RECALL_FLOOR:
            bad.append(f"recall {got['recall']:.4f} < {RECALL_FLOOR}")
        return bad


class IncrementalFold:
    """One micro-batch folded into a committed base catalog:
    ``refetch50``, half byte-identical re-fetches of base pages under
    new urls (caught by the bloom filter and the exact tier, never
    signed) and half new docs (signed and probed against the base)."""

    name = "incremental_fold"
    # the cold base fold in ``load`` warms the full pipeline; the first
    # increment is still cold for the probe path (~20% slower)
    warm_ups = 1

    def __init__(self, spark, seed: int, work: Path, smoke: bool):
        self.spark, self.seed, self.work = spark, seed, work
        self.n_base = 500 if smoke else 2000
        self.n_delta = 100 if smoke else 500
        self.base_cat = work / "catalog_base"
        self.run_cat = work / "catalog_run"

    def prepare(self) -> None:
        from acxspark.corpus import generate

        base = generate(n_docs=self.n_base, seed=self.seed)
        fresh = generate(n_docs=self.n_delta // 2, seed=self.seed + 1)
        rng = np.random.default_rng(self.seed)
        pick = np.sort(rng.choice(self.n_base, self.n_delta // 2, replace=False))
        refetch = base.webpages[["url", "text"]].iloc[pick]
        self.refetch_of = dict(zip("refetch-" + refetch["url"], refetch["url"]))
        frames = {
            "base": base.webpages[["url", "text"]],
            "refetch50": pd.concat([
                refetch.assign(url="refetch-" + refetch["url"]),
                fresh.webpages[["url", "text"]].assign(url="fresh-" + fresh.webpages["url"]),
            ], ignore_index=True),
        }
        self.df = {}
        for name, pdf in frames.items():
            path = self.work / f"{name}.parquet"
            pdf.to_parquet(path, index=False)
            self.df[name] = self.spark.read.parquet(str(path)).select("url", "text")
        self.delta_urls = set(frames["refetch50"]["url"])
        self.docs_in = len(self.delta_urls)
        # planted dup pairs the fold must join: pairs among the new
        # docs, and every re-fetch with the base page it copies. The
        # incremental plan documents that it skips the containment
        # tier, so containment pairs are only reported, not gated.
        planted = fresh.truth_pairs.assign(url_a="fresh-" + fresh.truth_pairs["url_a"],
                                           url_b="fresh-" + fresh.truth_pairs["url_b"])
        self.contain_truth = planted[planted["kind"] == "contain"]
        self.truth = pd.concat([
            planted[planted["kind"] != "contain"][["url_a", "url_b"]],
            pd.DataFrame({"url_a": list(self.refetch_of),
                          "url_b": list(self.refetch_of.values())}),
        ], ignore_index=True)

    def load(self) -> None:
        """Cold-start fold of the base batch: the full pipeline commits
        every snapshot the increments read."""
        from acxspark.catalog import ParquetSnapshotCatalog
        from acxspark.streaming import ingest

        shutil.rmtree(self.base_cat, ignore_errors=True)
        out = ingest.fold_batch(self.df["base"], 0, ParquetSnapshotCatalog(self.base_cat))
        if out.get("action") != "cold_start":
            raise RuntimeError(f"base fold did not cold-start: {out}")
        self.spark.catalog.clearCache()

    def restore(self) -> None:
        shutil.rmtree(self.run_cat, ignore_errors=True)
        shutil.copytree(self.base_cat, self.run_cat)

    def run(self, span=no_span):
        from acxspark.catalog import ParquetSnapshotCatalog
        from acxspark.streaming import ingest

        with span("ingest.refetch50"):
            return ingest.fold_batch(self.df["refetch50"], 1,
                                     ParquetSnapshotCatalog(self.run_cat))

    def outputs(self, out: dict) -> dict:
        from acxspark.catalog import ParquetSnapshotCatalog

        clusters = ParquetSnapshotCatalog(self.run_cat).read(
            self.spark, "clusters").toPandas()
        self.spark.catalog.clearCache()
        delta = clusters[clusters["url"].isin(self.delta_urls)]
        cluster_of = dict(zip(clusters["url"], clusters["cluster_id"]))
        rows = pd.DataFrame(sorted(zip(delta["url"], delta["cluster_id"])))
        return {
            "action": out.get("action"),
            "assigned": len(delta),
            "assigned_once": bool(delta["url"].is_unique)
            and set(delta["url"]) == self.delta_urls,
            "refetch_in_base_cluster": all(
                b in cluster_of and cluster_of.get(r) == cluster_of[b]
                for r, b in self.refetch_of.items()),
            "assignment_checksum": int(
                pd.util.hash_pandas_object(rows, index=False).sum() % 2**63),
            "recall": _recall(self.truth, cluster_of),
            "contain_recall": _recall(self.contain_truth, cluster_of),
            "catalog_write_mb": _tree_mb(self.run_cat) - _tree_mb(self.base_cat),
        }

    def failures(self, got: dict, ref: dict) -> list[str]:
        bad = _differ(got, ref, ("assignment_checksum",))
        if got["action"] != "increment":
            bad.append(f"fold action {got['action']!r}, not 'increment'")
        if not got["assigned_once"]:
            bad.append("a delta url is unassigned or assigned twice")
        if not got["refetch_in_base_cluster"]:
            bad.append("a re-fetch left its base page's cluster")
        if got["recall"] < RECALL_FLOOR:
            bad.append(f"recall {got['recall']:.4f} < {RECALL_FLOOR}")
        return bad


WORKLOADS = {w.name: w for w in (DedupSmall, IncrementalFold)}
