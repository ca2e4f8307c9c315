"""Tracing must not change what the program computes: the traced store
proxy and the ``load_table`` wrapper give the same tables as the plain
code paths, and the streams' tables equal their DuckDB twins."""

from __future__ import annotations

import pytest

pytest.importorskip("pyspark")

import backlog  # noqa: E402
import chatgen  # noqa: E402
import live  # noqa: E402
import tablegen  # noqa: E402
from core import Ctx  # noqa: E402
from oracle import frame_hash, lines_connection, same_result, stream_oracles  # noqa: E402
from tracing import RssSampler, Tracer, dir_bytes, table_bytes, wrap_load_table  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from spark_streaming_twitch_analytics_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.sql.warehouse.dir": str(wh)})
    yield s
    s.stop()


def _ctx(spark, work, tracer):
    return Ctx(spark=spark, work=str(work), seed=1, seconds=0, cores=2,
               rss=RssSampler(), tracer=tracer)


def _lines(dir_path):
    out = []
    for f in sorted(dir_path.iterdir()):
        out.extend(x for x in f.read_text(encoding="utf-8").splitlines() if x)
    return out


def test_backlog_drain_writes_the_same_table_traced_or_not(spark, tmp_path):
    src = tmp_path / "in"
    chatgen.write_backlog(str(src), seed=3, n_files=2, lines_per_file=400)
    hashes = []
    for tracer in (None, Tracer()):
        ctx = _ctx(spark, tmp_path / "work", tracer)
        root = tmp_path / ("traced" if tracer else "plain")
        _, store, _, _ = backlog.drain(ctx, str(src), str(root))
        cols, rows = live.read_table(store, backlog.TABLE)
        hashes.append(frame_hash(cols, rows))
    assert hashes[0] == hashes[1]
    assert tracer.timed("kv_store.write"), "the traced store was not in the sink path"
    # the store's size is the table's, not the checkpoint's kept beside it
    assert 0 < table_bytes(store, [backlog.TABLE]) < dir_bytes(str(root))
    words, _ = stream_oracles()
    assert same_result(lines_connection(_lines(src)), words, cols, rows) is None


def test_dual_branch_writes_the_same_tables_traced_or_not(spark, tmp_path):
    results = []
    for tracer in (None, Tracer()):
        name = "traced" if tracer else "plain"
        src = tmp_path / name / "in"
        chatgen.write_backlog(str(src), seed=4, n_files=2, lines_per_file=300)
        ctx = _ctx(spark, tmp_path / name / "work", tracer)
        query, store = live.start_query(ctx, str(src), str(tmp_path / name / "store"))
        try:
            query.processAllAvailable()
        finally:
            live.stop_query(query)
        results.append([live.read_table(store, t) for t in (live.WORD_TABLE, live.CAT_TABLE)])
    assert [frame_hash(*r) for r in results[0]] == [frame_hash(*r) for r in results[1]]
    assert tracer.timed("kv_store.read") and tracer.timed("kv_store.epoch_check")
    lines = _lines(tmp_path / "plain" / "in")
    con = lines_connection(lines)
    for sql, got in zip(stream_oracles(), results[0]):
        assert same_result(con, sql, *got) is None


def test_load_table_wrapper_returns_the_same_frame(spark, tmp_path):
    from spark_streaming_twitch_analytics_spark import tables

    sf = str(tmp_path / "sf")
    tablegen.write_tables(sf, seed=1, rows_per_unit=0.02)
    plain = tables.load_table(spark, sf, "events").collect()
    inner, tracer = tables.load_table, Tracer()
    try:
        wrap_load_table(tracer)
        wrapped = tables.load_table(spark, sf, "events").collect()
    finally:
        tables.load_table = inner
    assert plain == wrapped
    assert len(tracer.durations_ms("tables.open")) == 1
