"""The benchmark's workloads: seeded inputs, a declared warm-up, the timed
operation, its correctness gates, and the functions the traced run wraps.

Every workload is a closed loop with one client: the next operation starts
only after the previous one has completed and its result is materialized.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from neural_entity_matching_spark import schema
from neural_entity_matching_spark.functions import normalize as normalize_mod
from neural_entity_matching_spark.operators import blocking as blocking_mod
from neural_entity_matching_spark.operators import clustering as clustering_mod
from neural_entity_matching_spark.operators import dedup as dedup_mod
from neural_entity_matching_spark.operators import ml_scorer as ml_mod
from neural_entity_matching_spark.operators import scoring as scoring_mod
from neural_entity_matching_spark.operators.evaluation import pairwise_f1
from neural_entity_matching_spark.plans import pipeline as pipeline_mod
from neural_entity_matching_spark.sources import io as io_mod
from neural_entity_matching_spark.sources.synth import BOILERPLATE, generate
from neural_entity_matching_spark.streaming import ingest
from neural_entity_matching_spark.streaming import incremental_er as inc_mod

from perfbench import trace as trace_mod

# Input sizes. On a 4-core host a run pays 30-45 s of session start and
# cold warm-up before its first timed operation, and a comparison of two
# commits makes 22 runs per listed workload within a fixed budget. At
# n_base=600 (about 11k candidate pairs) scoring is er_grid's largest
# layer; at 300 per-job overhead outweighs it.
ER_N_BASE = 600
ER_HARD_NEGATIVES = 130     # 132-248 untrimmed over seeds 1-120 (median 197)
STREAM_N_BASE = 80
STREAM_FILES = 8            # two triggers at maxFilesPerTrigger=4
STREAM_BLOCK_CAP = 200      # above every block: streaming == batch exactly
STREAM_LSH = dict(num_hashes=128, bands=64, char_ngram=8, seed=42)
DOC_N = 6000
DOC_WARM_OPS = 1            # the second operation ran as fast as later ones
DEDUP_THRESHOLD = 0.4
DEDUP_NGRAM = 5


@dataclass
class Op:
    wall_s: float = 0.0
    pairs: int = 0
    epochs_s: list = field(default_factory=list)
    digest: str = ""
    units: int = 1          # operations attempted: 1, or one per epoch
    errors: list = field(default_factory=list)  # failed correctness gates
    snapshot_bytes: int = 0


def digest_rows(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(map(str, r)) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _synth_props(n_base: int, turns: pd.DataFrame,
                 expected: pd.DataFrame) -> dict:
    return {"n_base": n_base, "turns": len(turns),
            "conversations": len(expected),
            # share of conversations that duplicate another one
            "duplicate_share": round(
                1 - expected["cluster_id"].nunique() / len(expected), 4),
            "hot_block": int(expected["conv_id"].str.startswith("hot-").sum())}


def _trim_hard_negatives(t: pd.DataFrame, keep: int):
    """Keep the first ``keep`` conversations (by id) of the hard-negative
    groups: bases that open with the shared boilerplate turn, with their
    duplicates, so that every seed has a block of the same size."""
    first = t[t["turn_idx"] == 0]
    bases = set(first.loc[first["text"] == BOILERPLATE, "conv_id"].str[:11])
    hard = np.sort(t.loc[t["conv_id"].str[:11].isin(bases), "conv_id"].unique())
    return t[~t["conv_id"].isin(set(hard[keep:]))], min(keep, len(hard))


def _transcripts(spark, n_base: int, seed: int, path: str):
    t, labels, expected = generate(n_base=n_base, seed=seed)
    t, n_hard = _trim_hard_negatives(t, ER_HARD_NEGATIVES)
    kept = set(t["conv_id"])
    labels = labels[labels["conv_id_a"].isin(kept)
                    & labels["conv_id_b"].isin(kept)]
    expected = expected[expected["conv_id"].isin(kept)]
    spark.createDataFrame(t, schema=schema.TRANSCRIPTS) \
        .write.mode("overwrite").parquet(path)
    lab = spark.createDataFrame(labels, schema=schema.LABELED_PAIRS)
    return spark.read.parquet(path), lab, {
        **_synth_props(n_base, t, expected), "hard_negatives": n_hard}


def _cluster_gate(clusters, sigs, scored, label: str) -> list[str]:
    """Clusters must equal the union-find closure of the match edges."""
    edges = [(r[0], r[1]) for r in scored.filter(F.col("is_match") == 1)
             .select("conv_id_a", "conv_id_b").collect()]
    verts = [r[0] for r in sigs.select("conv_id").collect()]
    want = clustering_mod.union_find_oracle(edges, verts)
    got = {r[0]: r[1] for r in clusters.select("conv_id", "cluster_id").collect()}
    return [] if got == want else [
        f"{label}: clusters differ from union_find_oracle on "
        f"{sum(got.get(k) != v for k, v in want.items())} ids"]


def _f1_gate(scored, labels, candidates, label: str) -> list[str]:
    f1 = pairwise_f1(scored, labels, universe=candidates)
    return [] if f1.f1 >= 0.99 else [f"{label}: pairwise F1 {f1.f1:.4f} < 0.99"]


class Workload:
    name = ""
    loop = "closed loop, 1 client, one operation at a time"
    epochs = False      # operations are drained in micro-batches (epochs)

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.props: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        """One timed operation; its outputs are checked after the clock
        stops, and failed gates land in ``Op.errors``."""
        raise NotImplementedError

    def patch(self, tr: trace_mod.Tracer) -> None:
        raise NotImplementedError

    def traced_op(self, tr: trace_mod.Tracer, i: int) -> Op:
        with tr.span("op") as span:
            op = self.op(i)
        span.attrs["snapshot_bytes"] = op.snapshot_bytes
        return op


def _block_stats(s, out, _) -> None:
    s.attrs["oversized_blocks"] = out[1].oversized_blocks or 0
    s.attrs["dropped_memberships"] = out[1].dropped_memberships or 0


def _patch_pipeline(tr: trace_mod.Tracer) -> None:
    """Wrap every module boundary that ``run_pipeline`` crosses."""
    def matches(s, out, _):
        s.attrs["matches"] = trace_mod.is_match_count(out)

    def clusters(s, out, _):
        s.attrs["clusters"] = out.select("cluster_id").distinct().count()

    tr.patch(pipeline_mod, "build_signatures", "normalize.build_signatures")
    tr.patch(pipeline_mod, "lsh_block", "blocking.lsh_block", _block_stats)
    tr.patch(pipeline_mod, "fast_threshold_score",
             "scoring.fast_threshold_score", matches)
    tr.patch(pipeline_mod, "featurize_pairs", "scoring.featurize_pairs")
    tr.patch(pipeline_mod, "threshold_scorer", "scoring.threshold_scorer",
             matches)
    tr.patch(scoring_mod, "attach_labels", "scoring.attach_labels",
             materialize=False)
    tr.patch(scoring_mod, "is_single_class", "scoring.is_single_class")
    tr.patch(ml_mod, "train_scorer", "ml_scorer.train_scorer")
    tr.patch(ml_mod, "score_with_model", "ml_scorer.score_with_model",
             matches)
    tr.patch(pipeline_mod, "connected_components",
             "clustering.connected_components", clusters)
    tr.patch(io_mod.CheckpointManager, "run_or_resume", "io.run_or_resume",
             lambda s, res, args: s.attrs.update(stage=args[1],
                                                 resumed=res.resumed),
             materialize=False)


class ErBatch(Workload):
    """``run_pipeline`` with ``PipelineConfig`` defaults from a fresh
    checkpoint directory: every stage computes and writes its snapshot."""

    name = "er_batch"
    scorers = ("threshold",)    # one run_pipeline per scorer, in order
    resume_blocking = False     # keep the committed blocking snapshots

    def generate(self) -> None:
        self.input, self.labels, self.props = _transcripts(
            self.spark, ER_N_BASE, self.seed, f"{self.work}/input")

    def warmup(self) -> None:
        # one whole operation; it also commits the blocking snapshots that
        # er_retrain resumes. After a warm-up on a slice (30 base
        # conversations and the hot block), the next er_grid operations
        # took 31.8, 25.6, 27.0 and 26.0 s: the first timed one ran cold.
        self._chain(_fresh(f"{self.work}/ck"), -1, check=False)

    def op(self, i: int) -> Op:
        ck = f"{self.work}/ck"
        if self.resume_blocking:
            for stage in ("scored", "clusters"):
                shutil.rmtree(f"{ck}/{stage}", ignore_errors=True)
        else:
            _fresh(ck)
        return self._chain(ck, i)

    def _chain(self, ck: str, i: int, check: bool = True) -> Op:
        """One ``run_pipeline`` per scorer on checkpoint dir ``ck``; a run
        after the first resumes the blocking stages the first wrote. Each
        run is timed alone and its outputs are checked right after it,
        because the next run overwrites its snapshots."""
        op = Op()
        for scorer in self.scorers:
            t0 = time.perf_counter()
            clusters, report = pipeline_mod.run_pipeline(
                self.spark, self.input, ck,
                config=pipeline_mod.PipelineConfig(scorer=scorer),
                input_fingerprint=f"seed{self.seed}", run_id=f"op{i}-{scorer}",
                labeled_pairs=None if scorer == "threshold" else self.labels)
            clusters.count()
            op.wall_s += time.perf_counter() - t0
            if not check:
                continue
            out = report.outputs
            op.pairs += report.stages["scored"]["rows"]
            op.snapshot_bytes += sum(
                _dir_bytes(f"{ck}/{stage}")
                for stage, v in report.stages.items()
                if not stage.startswith("_") and not v["resumed"])
            op.digest += digest_rows(clusters.collect()) + digest_rows(
                out["scored"].filter(F.col("is_match") == 1)
                .select("conv_id_a", "conv_id_b").collect())
            op.errors += _f1_gate(out["scored"], self.labels,
                                  out["candidates"], scorer)
            op.errors += _cluster_gate(clusters, out["signatures"],
                                       out["scored"], scorer)
            self.props["candidate_pairs"] = report.stages["candidates"]["rows"]
        return op

    def patch(self, tr) -> None:
        _patch_pipeline(tr)
        tr.patch(pipeline_mod, "run_pipeline", "pipeline.run_pipeline")


class ErRetrain(ErBatch):
    """The matcher grid at fixed blocking keys: the ``signatures`` and
    ``candidates`` snapshots are committed in setup, and every operation
    resumes them and recomputes ``scored`` (logistic) and ``clusters``."""

    name = "er_retrain"
    scorers = ("logistic",)
    resume_blocking = True


class ErGrid(ErBatch):
    """``er_batch`` then ``er_retrain`` in one operation, as the reference
    runs its matcher grid: the defaults on a fresh checkpoint directory,
    then the logistic matcher, which resumes the blocking snapshots the
    first run wrote and recomputes ``scored`` and ``clusters``."""

    name = "er_grid"
    scorers = ("threshold", "logistic")


class ErStream(Workload):
    """``incremental_er`` drains a multi-file transcript drop through
    ``stream_transcripts`` (maxFilesPerTrigger=4) into a fresh store."""

    name = "er_stream"
    loop = "closed loop, 1 client; micro-batches of 4 files, availableNow"
    epochs = True

    def generate(self) -> None:
        t, _, expected = generate(n_base=STREAM_N_BASE, seed=self.seed)
        df = self.spark.createDataFrame(t, schema=schema.TRANSCRIPTS)
        # many files, so conversations straddle micro-batches
        df.repartition(STREAM_FILES).write.mode("overwrite") \
            .parquet(f"{self.work}/drop")
        self.props = {**_synth_props(STREAM_N_BASE, t, expected),
                      "files": STREAM_FILES}

    def warmup(self) -> None:
        # the batch match set at the same keys, which the drain must
        # converge to. Computing it runs the signature, blocking and
        # scoring code the drain uses. A one-trigger drain of a slice as
        # well cost about 17 s and did not make the timed epochs faster:
        # the first timed epoch took as long as the second without it.
        sigs = normalize_mod.build_signatures(
            self.spark.read.parquet(f"{self.work}/drop")).cache()
        cand, stats = blocking_mod.lsh_block(sigs, block_cap=STREAM_BLOCK_CAP,
                                             **STREAM_LSH)
        scored = scoring_mod.fast_threshold_score(cand, sigs).persist()
        self.want = {(r[0], r[1]) for r in scored
                     .filter(F.col("is_match") == 1)
                     .select("conv_id_a", "conv_id_b").collect()}
        self.oversized = stats.oversized_blocks
        self.props["candidate_pairs"] = cand.count()
        for h in (scored, sigs):
            h.unpersist()

    def op(self, i: int) -> Op:
        work = _fresh(f"{self.work}/store")
        ck = _fresh(f"{self.work}/stream_ck")
        t0 = time.perf_counter()
        src = ingest.stream_transcripts(self.spark, f"{self.work}/drop")
        q = self.query = inc_mod.incremental_er(
            self.spark, src, work, ck, block_cap=STREAM_BLOCK_CAP,
            **STREAM_LSH).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        epochs = trace_mod.progress_epochs(q)
        log = self.spark.read.parquet(f"{work}/matches")
        got = {(r[0], r[1]) for r in inc_mod.read_current_matches(
            self.spark, work).select("conv_id_a", "conv_id_b").collect()}
        errs = []
        if self.oversized:
            errs.append(f"{self.oversized} blocks reached the cap")
        if got != self.want:
            errs.append(f"stream matches differ from batch: "
                        f"{len(got - self.want)} extra, "
                        f"{len(self.want - got)} missing")
        self.props["epochs"] = len(epochs)
        return Op(wall, log.count(), [e["trigger_s"] for e in epochs],
                  digest_rows(got), units=len(epochs), errors=errs)

    def patch(self, tr) -> None:
        def parts(s, out, _):
            part = F.pmod(F.xxhash64("conv_id"), F.lit(16))
            s.attrs["parts_ratio"] = (
                out.select(part).distinct().count() / 16.0)

        tr.patch(inc_mod, "build_signatures", "normalize.build_signatures",
                 parts)
        tr.patch(inc_mod, "lsh_band_keys", "blocking.lsh_band_keys")
        tr.patch(inc_mod, "two_table_pairs_from_block_keys",
                 "blocking.two_table_pairs", _block_stats)
        tr.patch(inc_mod, "fast_threshold_score",
                 "scoring.fast_threshold_score",
                 lambda s, out, _: s.attrs.update(
                     matches=trace_mod.is_match_count(out)))
        tr.patch(inc_mod, "compact_matches", "incremental_er.compact_matches",
                 materialize=False)

    def traced_op(self, tr, i: int) -> Op:
        with tr.span("op") as op_span:
            op = self.op(i)
        root = tr.spans.index(op_span)
        for e in trace_mod.progress_epochs(self.query):
            ep = tr.add_span("stream.epoch", e["start"],
                             e["start"] + e["trigger_s"], root,
                             trigger_s=e["trigger_s"],
                             add_batch_s=e["add_batch_s"])
            kids = [k for k, s in enumerate(tr.spans)
                    if s.parent == root and k != ep
                    and s.start >= tr.spans[ep].start
                    and s.end <= tr.spans[ep].end]
            for k in kids:
                tr.spans[k].parent = ep
            # the store upserts run between the band-key call and the
            # two-table blocking call (module docstring, step 2)
            keys = [k for k in kids if tr.spans[k].name == "blocking.lsh_band_keys"]
            pairs = [k for k in kids if tr.spans[k].name == "blocking.two_table_pairs"]
            if keys and pairs:
                tr.add_span("incremental_er.upsert", tr.spans[keys[0]].end,
                            tr.spans[pairs[0]].start, ep)
        return op


def _docs(n: int, seed: int) -> pd.DataFrame:
    """Near-duplicate documents over a random-letter vocabulary (so
    unrelated documents share few character n-grams): 15% are edits of an
    earlier document (10% of words replaced), plus one group of 50 exact
    boilerplate copies."""
    rng = np.random.RandomState(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(["".join(rng.choice(letters, rng.randint(3, 10)))
                      for _ in range(20000)])
    texts: list[str] = []
    for i in range(n):
        if i < 50:
            texts.append("automated notice this ticket was closed after no reply")
        elif i > 50 and rng.rand() < 0.15:
            words = texts[rng.randint(50, i)].split()
            for j in np.nonzero(rng.rand(len(words)) < 0.1)[0]:
                words[j] = vocab[rng.randint(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.randint(0, len(vocab),
                                                    rng.randint(20, 60))]))
    order = rng.permutation(n)
    return pd.DataFrame({"doc_id": np.arange(n, dtype="int64"),
                         "text": [texts[k] for k in order]})


def _char_jaccard(a: str, b: str, n: int) -> float:
    """The documented contract: exact Jaccard of distinct char n-grams."""
    def grams(s):
        return {s[i:i + n] for i in range(max(len(s) - n + 1, 1))}
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


class DocDedup(Workload):
    """``minhash_lsh_dedup`` over a near-duplicate document table."""

    name = "doc_dedup"

    def generate(self) -> None:
        pdf = _docs(DOC_N, self.seed)
        self.text = dict(zip(pdf["doc_id"], pdf["text"]))
        self.spark.createDataFrame(pdf, "doc_id long, text string") \
            .write.mode("overwrite").parquet(f"{self.work}/docs")
        self.docs = self.spark.read.parquet(f"{self.work}/docs")
        self.props = {"documents": DOC_N}

    def warmup(self) -> None:
        for i in range(DOC_WARM_OPS):
            self.op(-1 - i)

    def op(self, i: int) -> Op:
        t0 = time.perf_counter()
        pairs, stats = dedup_mod.minhash_lsh_dedup(
            self.docs, threshold=DEDUP_THRESHOLD, char_ngram=DEDUP_NGRAM)
        wall = time.perf_counter() - t0
        rows = pairs.collect()
        pairs.unpersist()
        self.props.update(candidate_pairs=stats.extra["n_pairs"],
                          near_dup_pairs=len(rows))
        bad = sum(
            1 for r in rows
            if abs(_char_jaccard(self.text[r["id_a"]], self.text[r["id_b"]],
                                 DEDUP_NGRAM) - r["jacc"]) > 1e-6
            or r["jacc"] < DEDUP_THRESHOLD)
        errs = [f"{bad} pairs fail the exact char-n-gram Jaccard oracle"] \
            if bad else []
        if not rows:
            errs.append("no near-duplicate pairs found")
        return Op(wall, stats.extra["n_pairs"], digest=digest_rows(rows),
                  errors=errs)

    def patch(self, tr) -> None:
        tr.patch(dedup_mod, "minhash_lsh_dedup", "dedup.minhash_lsh_dedup",
                 lambda s, out, _: s.attrs.update(
                     candidates=out[1].extra["n_pairs"]))
        tr.patch(dedup_mod, "grouped_pairs_from_block_keys",
                 "blocking.grouped_pairs", _block_stats)


WORKLOADS = {w.name: w for w in (ErBatch, ErRetrain, ErGrid, ErStream, DocDedup)}
