"""I9 against a REAL PostgreSQL — boot an embedded server, run the staged
COPY + ``INSERT ... ON CONFLICT`` merge, and prove the exactly-once
property by replaying micro-batches.

The container ships full PostgreSQL 15 server binaries (initdb/pg_ctl/
postgres/psql) but no JDBC jar and no Python driver, so the transport is
psql over a private unix socket (silvia_spark/pg.py). The server runs as
the unprivileged ``postgres`` user (PostgreSQL refuses root) with trust
auth scoped to a mode-0700 tmpdir socket — test-only wiring; the merge SQL
under test is exactly what production runs.
"""

from __future__ import annotations

import os
import shutil

import pytest

from silvia_spark import registry
from tests.conftest import SF_SMALL

registry.load_all_modules()

pytestmark = pytest.mark.slow

from silvia_spark import pg as pglib

PG_BIN = pglib.PG_BIN


@pytest.fixture(scope="module")
def pg_server():
    """A PRIVATE server through the same pg.boot_server helper the
    autoboot path uses — isolated from /tmp/silvia_pg_auto so teardown
    can't yank a server another process is reusing."""
    if not pglib.have_server_binaries():
        pytest.skip("no usable PostgreSQL server binaries in this container")
    # Not tmp_path_factory: its pytest-of-root parents are mode 0700, which
    # the unprivileged postgres user cannot traverse.
    import tempfile
    root = tempfile.mkdtemp(prefix="silvia_pg_", dir="/tmp")
    pglib.boot_server(root)
    try:
        yield root
    finally:
        pglib._run_as_pg(f"{PG_BIN}/pg_ctl -D {root}/data -m fast stop")
        shutil.rmtree(root, ignore_errors=True)


def test_psql_client_is_the_real_binary():
    """Debian's /usr/bin/psql is a Perl wrapper (pg_wrapper) that adds
    ~23 ms per call before the client starts; whenever server binaries
    exist the sink must exec the ELF client beside them instead."""
    if shutil.which("initdb", path=PG_BIN) is None:
        pytest.skip("no PostgreSQL server binaries in this container")
    with open(shutil.which(pglib.PSQL), "rb") as f:
        assert f.read(4) == b"\x7fELF", pglib.PSQL


def test_copy_upsert_replay_is_exactly_once(pg_server):
    """The merge keyed (batch_id, event_type): replaying an identical batch
    changes nothing; replaying a REVISED batch (Spark retry after partial
    upstream failure) replaces that batch's rows — never appends."""
    from silvia_spark import pg

    pg.ensure_upsert_table(pg_server, "replay_t")
    b7 = [(7, "click", 100), (7, "view", 240)]
    pg.copy_upsert(pg_server, "replay_t", b7)
    pg.copy_upsert(pg_server, "replay_t", [(8, "click", 11)])
    first = pg.read_upsert_table(pg_server, "replay_t")
    assert first == [(7, "click", 100), (7, "view", 240), (8, "click", 11)]

    pg.copy_upsert(pg_server, "replay_t", b7)          # identical replay
    assert pg.read_upsert_table(pg_server, "replay_t") == first

    pg.copy_upsert(pg_server, "replay_t", [(7, "click", 101),
                                           (7, "view", 240)])  # revised
    assert pg.read_upsert_table(pg_server, "replay_t") == [
        (7, "click", 101), (7, "view", 240), (8, "click", 11)]


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_parquet_upsert_replay_is_exactly_once(spark, tmp_path):
    """The offline degradation holds the same property via dynamic
    partition overwrite: re-running a batch replaces its partition."""
    from silvia_spark.streaming.streams import parquet_upsert_factory

    out = str(tmp_path / "tbl")
    upsert = parquet_upsert_factory(out)
    batch = spark.createDataFrame(
        [("click",), ("click",), ("view",)], "event_type string")
    upsert(batch, 3)
    upsert(batch, 4)
    upsert(batch, 3)  # replay
    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == [("click", 2, 3), ("click", 2, 4),
                    ("view", 1, 3), ("view", 1, 4)]


@pytest.mark.full  # CI-mode only (suite-time budget)
def test_contract_through_postgres_matches_parquet_path(pg_server, spark,
                                                        monkeypatch):
    """stream_foreachbatch_upsert end-to-end through the real server equals
    the parquet degradation: same availableNow stream, same final summary —
    and the PG-path rows were read back FROM the database, so the
    stage+merge+readback round-trip is what's being hashed."""
    monkeypatch.delenv("SILVIA_PG_HOST", raising=False)
    monkeypatch.setenv("SILVIA_PG_AUTOBOOT", "0")  # force the parquet leg
    offline = sorted(
        tuple(r) for r in
        registry.QUERIES["stream_foreachbatch_upsert"](spark, SF_SMALL)
        .collect())

    monkeypatch.setenv("SILVIA_PG_HOST", pg_server)
    monkeypatch.setenv("SILVIA_PG_TABLE", "event_summary_live")
    live = sorted(
        tuple(r) for r in
        registry.QUERIES["stream_foreachbatch_upsert"](spark, SF_SMALL)
        .collect())
    assert live == offline
    assert len(live) > 0


def test_default_run_resolves_real_pg_on_this_box(spark, monkeypatch):
    """The r06 gap: the PG path only ran when $SILVIA_PG_HOST was
    exported. With no env at all, resolve_host() must auto-boot (or
    reuse) the singleton server on this box and I9's DEFAULT run must
    take the real stage+merge+readback loop — asserted by checking the
    singleton host answers and the contract result still matches the
    batch ground truth."""
    if not pglib.have_server_binaries():
        pytest.skip("no usable PostgreSQL server binaries in this container")
    monkeypatch.delenv("SILVIA_PG_HOST", raising=False)
    monkeypatch.delenv("SILVIA_PG_TABLE", raising=False)
    monkeypatch.delenv("SILVIA_PG_AUTOBOOT", raising=False)
    host = pglib.resolve_host()
    assert host == pglib.AUTOBOOT_ROOT
    assert pglib.run_psql(host, "SELECT 1;", db="postgres").strip() == "1"

    got = sorted(
        tuple(r) for r in
        registry.QUERIES["stream_foreachbatch_upsert"](spark, SF_SMALL)
        .collect())
    import pyspark.sql.functions as F

    from silvia_spark.io import load_table
    want = sorted(
        tuple(r) for r in
        load_table(spark, SF_SMALL, "events").groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt")).orderBy("event_type")
        .collect())
    assert got == want


def test_caller_named_table_is_never_dropped(pg_server, spark, monkeypatch):
    """The r07-ADVICE destruction bug: with $SILVIA_PG_TABLE pointing at a
    real warehouse table, I9 ran DROP TABLE IF EXISTS on it up front.
    Now the merge + readback are scoped by run_id: pre-existing rows
    (including legacy rows from the pre-run_id schema) must survive the
    run, and the run's own result must still equal the batch truth."""
    from silvia_spark import pg

    # a pre-existing "warehouse" table with another tenant's rows
    pg.ensure_upsert_table(pg_server, "warehouse_t")
    pg.copy_upsert(pg_server, "warehouse_t",
                   [(1, "precious", 999)], run_id="older-run")
    monkeypatch.setenv("SILVIA_PG_HOST", pg_server)
    monkeypatch.setenv("SILVIA_PG_TABLE", "warehouse_t")

    got = sorted(
        tuple(r) for r in
        registry.QUERIES["stream_foreachbatch_upsert"](spark, SF_SMALL)
        .collect())

    # pre-existing rows intact, run rows landed beside them
    survivors = pg.read_upsert_table(pg_server, "warehouse_t",
                                     run_id="older-run")
    assert survivors == [(1, "precious", 999)]
    import pyspark.sql.functions as F

    from silvia_spark.io import load_table
    want = sorted(
        tuple(r) for r in
        load_table(spark, SF_SMALL, "events").groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt")).orderBy("event_type")
        .collect())
    assert got == want


def test_legacy_table_migrates_in_place(pg_server):
    """A table created by the pre-run_id protocol (PK (batch_id,
    event_type), no run_id column) must be migrated by
    ensure_upsert_table without losing rows: legacy rows keep
    run_id = '' and new run-scoped merges land beside them."""
    from silvia_spark import pg

    pg.run_psql(pg_server, """
CREATE TABLE legacy_t (
  batch_id   bigint NOT NULL,
  event_type text   NOT NULL,
  cnt        bigint NOT NULL,
  PRIMARY KEY (batch_id, event_type)
);
INSERT INTO legacy_t VALUES (3, 'click', 7);
""")
    pg.ensure_upsert_table(pg_server, "legacy_t")
    assert pg.read_upsert_table(pg_server, "legacy_t", run_id="") == [
        (3, "click", 7)]
    pg.copy_upsert(pg_server, "legacy_t", [(3, "click", 50)], run_id="r2")
    # same (batch_id, event_type) under a different run_id coexists
    assert pg.read_upsert_table(pg_server, "legacy_t") == [
        (3, "click", 7), (3, "click", 50)]
    assert pg.read_upsert_table(pg_server, "legacy_t", run_id="r2") == [
        (3, "click", 50)]


def test_schema_qualified_legacy_table_migrates(pg_server):
    """ensure_upsert_table's catalog check must scope on (table_schema,
    table_name): with the raw dotted name it never matches, the ALTER is
    skipped, and the next COPY dies on the missing run_id column."""
    from silvia_spark import pg

    pg.run_psql(pg_server, """
CREATE SCHEMA wh;
CREATE TABLE wh.summary (
  batch_id   bigint NOT NULL,
  event_type text   NOT NULL,
  cnt        bigint NOT NULL,
  PRIMARY KEY (batch_id, event_type)
);
INSERT INTO wh.summary VALUES (1, 'view', 4);
""")
    pg.ensure_upsert_table(pg_server, "wh.summary")
    pg.copy_upsert(pg_server, "wh.summary", [(1, "view", 9)], run_id="rx")
    assert pg.read_upsert_table(pg_server, "wh.summary", run_id="rx") == [
        (1, "view", 9)]
    assert pg.read_upsert_table(pg_server, "wh.summary", run_id="") == [
        (1, "view", 4)]


def test_run_id_canonicalization_round_trips(pg_server):
    """A run_id carrying COPY-hostile bytes (tab/newline/backslash) is
    sanitized on write; the readback must apply the SAME canonical form
    or the run's own rows become unfindable."""
    from silvia_spark import pg

    pg.ensure_upsert_table(pg_server, "canon_t")
    raw = "r\t1\\x"
    pg.copy_upsert(pg_server, "canon_t", [(5, "click", 3)], run_id=raw)
    assert pg.read_upsert_table(pg_server, "canon_t", run_id=raw) == [
        (5, "click", 3)]
