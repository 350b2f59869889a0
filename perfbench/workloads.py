"""The workloads: what each feeds the program, the entry-point
calls one iteration makes, and the checks its output must pass.

One iteration runs the same calls ``kg/main.py`` (kg workloads) or
``kg/corpus_main.py`` (corpus workload) make, from reading the input
table to the committed parquet output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from kg import io, pipeline
from kg.stages import checkpoint, corpus, metrics

#: ``pipeline.run`` default bucket count
N_BUCKETS = 16


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str              # generator in gen.GENERATORS
    size: int              # conversations (clean), turns or documents
    #: seconds of --seconds that one timed iteration stands for: sets
    #: the count of timed iterations (run.timed_iterations) so that a
    #: run stays within its share of the protocol's hour
    iteration_s: float
    cross_turn_k: int = 0
    checkpointed: bool = False
    #: precision/recall floors; below them the output is wrong
    min_precision: float = 0.0
    min_recall: float = 0.0

    @property
    def is_kg(self) -> bool:
        return self.kind != "corpus"


#: why each workload exists: BENCHMARK.json and README.md. The clean
#: one (the production default) stays out of BENCHMARK.json: with it,
#: the full protocol of 22 runs per workload exceeds an hour on 4 cores
WORKLOADS = {w.name: w for w in [
    # P/R measured 0.79-0.82 / 0.81-0.85 over 19 seeds; the floors
    # leave room for seed variance and catch a broken stage (a skipped
    # commit batch drops recall to 0.63)
    Workload("kg_noisy_k1_ckpt", kind="noisy", size=4800, iteration_s=5.0,
             cross_turn_k=1, checkpointed=True, min_precision=0.6, min_recall=0.7),
    Workload("corpus_dedup", kind="corpus", size=6400, iteration_s=1.5),
    Workload("kg_clean_k0", kind="clean", size=4000, iteration_s=4.0,
             min_precision=0.95, min_recall=0.95),
]}


def run_iteration(spark, bc, w: Workload, in_path: str, out_dir: str,
                  ckpt_root: str):
    """One pipeline iteration through the public entry points; returns
    the ``pipeline.run`` result dict for kg workloads, else None."""
    if not w.is_kg:
        docs = io.read_table(spark, in_path).select("doc_id", "text")
        docs.count()  # corpus_main reports the input size
        out = corpus.corpus_pipeline(docs)
        io.write_table(
            out.repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 4),
                "shard", "pack_id"),
            os.path.join(out_dir, "corpus"))
        return None
    t0 = io.read_table(spark, in_path)
    out = pipeline.run(spark, t0, weights_bc=bc,
                       checkpoint_root=ckpt_root if w.checkpointed else None,
                       n_buckets=N_BUCKETS, cross_turn_k=w.cross_turn_k)
    io.write_table(out["triples"], os.path.join(out_dir, "triples"))
    io.write_table(
        out["adjacency"].repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4), "subj"),
        os.path.join(out_dir, "adjacency"))
    return out


def output_checksum(spark, w: Workload, out_dir: str,
                    with_scores: bool = True) -> str:
    """Order-insensitive checksum of everything the iteration wrote.

    ``with_scores=False`` leaves out the triples' ``confidence``: a
    model score can differ in its last bits when the same instance
    reaches the scorer in a differently composed batch, as it does in
    the traced pass (seen on one of 2,136 triples)."""
    tables = ["triples", "adjacency"] if w.is_kg else ["corpus"]
    sums = []
    for t in tables:
        df = spark.read.parquet(os.path.join(out_dir, t))
        if not with_scores:
            df = df.drop("confidence")
        sums.append(metrics.table_checksum(df))
    return "/".join(sums)


def quality(spark, w: Workload, out_dir: str, truth: dict) -> dict:
    """Precision and recall of the written output against the
    construction's truth, plus the list of failed checks."""
    errors = []
    if w.is_kg:
        got = {tuple(r) for r in spark.read.parquet(
            os.path.join(out_dir, "triples"))
            .select("subj", "pred", "obj").collect()}
        want = {tuple(t) for t in truth["gold"]}
    else:
        got = {r[0] for r in spark.read.parquet(
            os.path.join(out_dir, "corpus")).select("doc_id").collect()}
        want = set(truth["survivors"])
        # LSH may only under-merge hot clusters (buckets over the cap
        # are dropped): every expected survivor stays, and every extra
        # survivor is a hot-cluster member
        if want - got:
            errors.append(f"{len(want - got)} expected survivors missing")
        extra = got - want - set(truth["hot_members"])
        if extra:
            errors.append(f"{len(extra)} survivors outside hot clusters")
    tp = len(got & want)
    p = tp / len(got) if got else 0.0
    r = tp / len(want) if want else 0.0
    if p < w.min_precision or r < w.min_recall:
        errors.append(f"precision {p:.4f} / recall {r:.4f} under the "
                      f"floors {w.min_precision} / {w.min_recall}")
    return {"precision": p, "recall": r, "errors": errors}


def vacuity_errors(w: Workload, out, truth: dict) -> list:
    """Checks that the workload exercises what it is for: dictionary
    misses reach canon only on the noisy input, the noisy input has
    cross-turn-only gold, the corpus has near-duplicate clusters."""
    if not w.is_kg:
        return ([] if truth["near_dup_clusters"] > 0
                else ["corpus has no near-duplicate clusters"])
    errors = []
    misses = out["scored"].where(F.col("head_entity").isNull()
                                 | F.col("tail_entity").isNull()).count()
    if w.kind == "clean" and misses:
        errors.append(f"{misses} dictionary misses in the clean workload")
    if w.kind == "noisy":
        if not misses:
            errors.append("no dictionary misses reach canon")
        if not truth["xturn_gold"]:
            errors.append("no cross-turn-only gold")
    return errors


def manifest_errors(w: Workload, out, ckpt_root: str) -> list:
    """A checkpointed iteration must commit every bucket, and the
    manifest's row counts must add up to the scored table."""
    if not w.checkpointed:
        return []
    m = io.read_json(os.path.join(ckpt_root, "scored",
                                  checkpoint.MANIFEST)) or {"buckets": {}}
    errors = []
    if len(m["buckets"]) != N_BUCKETS:
        errors.append(f"manifest covers {len(m['buckets'])} of "
                      f"{N_BUCKETS} buckets")
    rows = sum(b["output_rows"] for b in m["buckets"].values())
    if rows != out["scored"].count():
        errors.append(f"manifest rows {rows} != scored rows")
    return errors
