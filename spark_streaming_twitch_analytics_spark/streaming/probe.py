"""Streaming-throughput measurement: the reference's flagship modality
(IRC lines → parse → tokenize → stateful running word count → KV
snapshot sink) timed end-to-end from query start to drain.

Shared by ``tools/stream_probe.py`` (ad-hoc CLI) and ``bench.py`` (one
pinned-protocol run per round, reported as ``streaming_lines_per_sec``
in ``BENCH_rN.json`` so streaming perf regressions are visible
round-over-round, not just in SCALING.md prose).

Context for the number: the reference's operating point is one Twitch
IRC channel ≈ O(10-100) messages/sec; a busy channel peaks ~1k/s
(SparkRunner.scala batch interval = seconds). The single-node figure
here is the same dataflow sustaining orders of magnitude more, with
per-batch state-snapshot writes included.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# Pinned bench protocol (see BASELINE.md "Streaming throughput probe"):
# replicate the sf documents table 20x and split into 10 text files =
# 10 micro-batches. At sf0.1 that is ~100k lines in ~10k-line batches.
BENCH_REPLICATE = 20
BENCH_N_FILES = 10

# per-trigger ``durationMs`` phases kept from each run's recentProgress
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning")


def _median(vals: list):
    return sorted(vals)[len(vals) // 2] if vals else None


def _phase_medians(progress: list[dict]) -> dict:
    """Per-phase median over a run's data-carrying micro-batches: each
    ``durationMs`` phase in :data:`PHASES`, plus ``stateCommit`` (the
    stateful operators' ``commitTimeMs``) and ``stateMemoryBytes`` (their
    ``memoryUsedBytes``), each summed per batch. A phase no batch reported
    reads None."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        ph: _median(
            [p["durationMs"][ph] for p in batches if ph in p["durationMs"]]
        )
        for ph in PHASES
    }
    for name, key in (
        ("stateCommit", "commitTimeMs"),
        ("stateMemoryBytes", "memoryUsedBytes"),
    ):
        out[name] = _median(
            [
                sum(op.get(key, 0) for op in p["stateOperators"])
                for p in batches
                if p.get("stateOperators")
            ]
        )
    return out


def measure_stream_throughput(
    spark: SparkSession,
    sf_dir: str,
    replicate: int = BENCH_REPLICATE,
    n_files: int = BENCH_N_FILES,
    runs: int = 3,
) -> dict:
    """Run the complete flagship stream over a replicated corpus and
    return ``{"lines", "files", "wall_sec", "wall_sec_runs",
    "lines_per_sec", "lines_per_sec_runs", "spread", "distinct_words",
    "phase_ms_runs"}``. Wall time spans query start → drain
    (``processAllAvailable``), including every state-store commit and
    complete-mode snapshot write. ``phase_ms_runs`` holds, per run, the
    :func:`_phase_medians` of its micro-batches, so a moved wall time
    can be traced to the trigger phase that moved it.

    The reported ``lines_per_sec`` is the MEDIAN of ``runs`` full
    replays (fresh checkpoint + KV dir each, same source files): the r7
    round artifacts showed single-shot numbers swinging ~2× on this
    multi-tenant host (4,199 vs 7,490 lines/s on an unchanged
    protocol), so one sample can't regression-track anything. The
    per-run times and max/min ``spread`` ship alongside so a reader can
    judge whether a round-over-round delta exceeds the measured noise."""
    from ..operators.messages import synth_raw_lines
    from ..sources.kv_store import KVTableStore
    from ..streaming.wordcount import run_snapshot_query, streaming_word_counts
    from ..tables import load_table

    work = tempfile.mkdtemp(prefix="stream_probe_")
    src_dir = os.path.join(work, "lines")
    try:
        docs = load_table(spark, sf_dir, "documents")
        # replicate the corpus to the probe volume (distinct doc ids so
        # the synthesized users/timestamps vary) and lay it out as
        # n_files text files = n_files micro-batches
        n_docs = docs.count()
        rep = docs.crossJoin(
            spark.range(replicate).select(F.col("id").alias("rep"))
        ).withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_docs)
        lines = synth_raw_lines(rep)
        total = n_docs * replicate
        lines.repartition(n_files).write.mode("overwrite").text(src_dir)

        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", 1)
            .load(src_dir)
        )
        counts = streaming_word_counts(raw)
        walls: list[float] = []
        phases: list[dict] = []
        n_words = 0
        for i in range(runs):
            store = KVTableStore(spark, os.path.join(work, f"kv{i}"))
            t0 = time.time()
            query = run_snapshot_query(
                counts, store, "probe_wordcount", os.path.join(work, f"ckpt{i}")
            )
            # same leak class as the state-scale cells (ADVICE r10):
            # never let a raising drain leave the stream running while
            # finally deletes its dirs
            try:
                query.processAllAvailable()
                walls.append(time.time() - t0)
                phases.append(_phase_medians(query.recentProgress))
            finally:
                query.stop()
            n_words = store.get_table("probe_wordcount", counts.schema).count()
        med = _median(walls)
        return {
            "lines": total,
            "files": n_files,
            "wall_sec": round(med, 2),
            "wall_sec_runs": [round(w, 2) for w in walls],
            "lines_per_sec": round(total / med, 1),
            "lines_per_sec_runs": [round(total / w, 1) for w in walls],
            "spread": round(max(walls) / min(walls), 2),
            "distinct_words": n_words,
            "phase_ms_runs": phases,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# State-scale probe (VERDICT r9 task 3): the flagship stateful wordcount
# at ×E key cardinality under both state-store providers.
# ---------------------------------------------------------------------------

STATE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def _vocab_expand(docs, expansion: int):
    """Multiply the corpus' DISTINCT-word cardinality by ``expansion``
    without changing line volume: every ``[a-z]+`` word in a document
    gets a letters-only suffix keyed by the document identity
    (``doc_id % expansion`` in fixed-width base-26, so the tokenizer's
    ``[a-z]+`` extraction keeps suffix and word as ONE token). Each
    base word therefore appears under ~``expansion`` distinct keys
    across the corpus while token/line counts stay fixed — the knob
    that isolates STATE size from ingest volume."""
    if expansion <= 1:
        return docs
    code = F.col("doc_id") % expansion
    width = 1
    while 26**width < expansion:
        width += 1
    sfx = F.concat(
        *[
            F.char((code / (26**p)).cast("long") % 26 + 97)
            for p in range(width - 1, -1, -1)
        ]
    )
    return docs.withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), F.lit("([a-z]+)"), F.concat(F.lit("$1"), sfx)
        ),
    )


def measure_state_scale(
    spark: SparkSession,
    sf_dir: str,
    expansions: tuple[int, ...] = (1, 100, 1000),
    providers: tuple[str, ...] = ("hdfs", "rocksdb"),
    replicate: int = BENCH_REPLICATE,
    n_files: int = BENCH_N_FILES,
) -> dict:
    """The 100 TB streaming-STATE story, measured: run the pinned
    flagship stateful wordcount at ×1/×100/×1000 key cardinality
    (:func:`_vocab_expand` — line volume pinned at the bench protocol's
    ``replicate``/``n_files``) under both the default HDFS-backed and
    the RocksDB state-store providers, recording per cell:

    - ``state_rows`` (stateOperators numRowsTotal — the realized key
      cardinality), ``state_bytes`` (memoryUsedBytes; for RocksDB the
      SST+mem footprint its custom metrics report),
    - ``lines_per_sec`` end-to-end and ``batch_ms_median`` (the
      per-trigger execution time the state store actually gates).

    The claim this certifies: batch time grows SUB-linearly in state
    size (hash-partitioned state touches only updated keys per commit),
    and the RocksDB provider holds the same curve with state spilled
    off-heap — the provider a 1000-executor deployment runs when state
    no longer fits executor memory."""
    from ..operators.messages import synth_raw_lines
    from ..sources.kv_store import KVTableStore
    from ..streaming.wordcount import run_snapshot_query, streaming_word_counts
    from ..tables import load_table

    saved = spark.conf.get(_PROVIDER_CONF, None)
    work = tempfile.mkdtemp(prefix="state_scale_")
    cells: dict[str, dict] = {}
    try:
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        for exp in expansions:
            src_dir = os.path.join(work, f"lines_x{exp}")
            rep = docs.crossJoin(
                spark.range(replicate).select(F.col("id").alias("rep"))
            ).withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_docs)
            lines = synth_raw_lines(_vocab_expand(rep, exp))
            lines.repartition(n_files).write.mode("overwrite").text(src_dir)
            total = n_docs * replicate
            for prov in providers:
                spark.conf.set(_PROVIDER_CONF, STATE_PROVIDERS[prov])
                raw = (
                    spark.readStream.format("text")
                    .option("maxFilesPerTrigger", 1)
                    .load(src_dir)
                )
                counts = streaming_word_counts(raw)
                tag = f"{prov}_x{exp}"
                store = KVTableStore(spark, os.path.join(work, f"kv_{tag}"))
                t0 = time.time()
                query = run_snapshot_query(
                    counts,
                    store,
                    f"probe_{tag}",
                    os.path.join(work, f"ckpt_{tag}"),
                )
                # stop in finally (ADVICE r10): if processAllAvailable
                # raises, the stream must not outlive this cell — the
                # finally below deletes its source/checkpoint dirs and
                # a leaked query would fail against them for the rest
                # of the session
                try:
                    query.processAllAvailable()
                    wall = time.time() - t0
                    batches = [
                        p["durationMs"].get("triggerExecution")
                        for p in query.recentProgress
                        if p.get("durationMs", {}).get("triggerExecution")
                        and p.get("numInputRows", 0) > 0
                    ]
                    so = (query.lastProgress or {}).get("stateOperators") or [
                        {}
                    ]
                finally:
                    query.stop()
                bm = _median(batches)
                cells[tag] = {
                    "provider": prov,
                    "expansion": exp,
                    "lines": total,
                    "wall_sec": round(wall, 2),
                    "lines_per_sec": round(total / wall, 1),
                    "batch_ms_median": bm,
                    "n_batches": len(batches),
                    "state_rows": so[0].get("numRowsTotal"),
                    "state_bytes": so[0].get("memoryUsedBytes"),
                }
        return {
            "protocol": (
                f"pinned flagship stateful wordcount, replicate={replicate} "
                f"n_files={n_files}, vocabulary expansion multiplies key "
                "cardinality at fixed line volume; fresh checkpoint per cell"
            ),
            "cells": cells,
        }
    finally:
        if saved is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, saved)
        shutil.rmtree(work, ignore_errors=True)
