"""The catalog's per-session relation cache (catalog.py): each table is
resolved once per (session, real path, file stamp), and every
`load_table` call hands out a fresh DataFrame over that relation. These
tests pin the hazards such a cache can bring: ambiguous self-joins,
stale rows after a rewrite, views leaking across sessions, cached data,
and session confs reset on every load."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from iris_pyspark_spark.catalog import TABLES, load_table, load_tables
from iris_pyspark_spark.session import CONFIGURED_KEY, get_spark

SHUFFLE = "spark.sql.shuffle.partitions"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _write_region(path, keys, comment=False):
    """One parquet file at `path` holding `keys` (plus an `r_comment`
    column when `comment`, i.e. a rewrite that also changes the schema)."""
    cols = {
        "r_regionkey": pa.array(keys, pa.int64()),
        "r_name": [f"R{k}" for k in keys],
    }
    if comment:
        cols["r_comment"] = [f"c{k}" for k in keys]
    pq.write_table(pa.table(cols), str(path))


def _keys(df):
    return sorted(r.r_regionkey for r in df.collect())


def test_self_join_of_two_loads_resolves(spark, sf_dir):
    """Two loads of one table carry distinct expression IDs, so a
    DataFrame-API self-join can still name the right side's columns."""
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(b.o_totalprice)
    assert joined.count() == a.count()


def test_rewritten_file_is_reloaded(spark, tmp_path):
    """A table file rewritten in place, here with a new column too, is
    resolved again on its next load: new rows and new schema."""
    _write_region(tmp_path / "region.parquet", [1, 2])
    assert _keys(load_table(spark, str(tmp_path), "region")) == [1, 2]
    _write_region(tmp_path / "region.parquet", [3, 4, 5], comment=True)
    df = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in df.columns
    assert _keys(df) == [3, 4, 5]


def test_rewritten_directory_is_reloaded(spark, tmp_path):
    """A table stored as a directory is stamped by its files' count,
    total size and newest mtime, so rewriting one part file in place —
    which leaves the directory's own mtime alone — is seen too."""
    (tmp_path / "region.parquet").mkdir()
    part = tmp_path / "region.parquet" / "part-0.parquet"
    _write_region(part, [1, 2])
    assert _keys(load_table(spark, str(tmp_path), "region")) == [1, 2]
    _write_region(part, [3, 4, 5], comment=True)
    df = load_table(spark, str(tmp_path), "region")
    assert "r_comment" in df.columns
    assert _keys(df) == [3, 4, 5]


def test_new_session_resolves_its_own_views(spark, sf_dir):
    before = {t.name for t in spark.catalog.listTables()}
    other = spark.newSession()
    load_tables(other, sf_dir, ("region", "nation"))
    names = {t.name for t in other.catalog.listTables()}
    assert {"region", "nation"} <= names
    hidden = {n for n in names if n.startswith("__iris_rel_")}
    assert len(hidden) == 2
    n_joined = other.sql(
        "SELECT count(*) FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).first()[0]
    assert n_joined == other.table("nation").count()
    # The other session's views stay in the other session.
    assert {t.name for t in spark.catalog.listTables()} == before
    assert load_table(other, sf_dir, "nation").count() == load_table(
        spark, sf_dir, "nation"
    ).count()


def test_loaded_plans_cache_no_data(spark, sf_dir):
    for name in TABLES:
        qe = load_table(spark, sf_dir, name)._jdf.queryExecution()
        assert "InMemoryRelation" not in qe.optimizedPlan().toString(), name
        assert "InMemoryTableScan" not in qe.executedPlan().toString(), name


def test_load_table_keeps_session_confs(spark, tmp_path):
    """The factory's explicit shuffle width and a caller's later
    `conf.set` both survive loads that resolve a table."""
    saved = spark.conf.get(SHUFFLE)
    try:
        assert get_spark(shuffle_partitions=8) is spark
        _write_region(tmp_path / "region.parquet", [1])
        load_table(spark, str(tmp_path), "region")
        assert spark.conf.get(SHUFFLE) == "8"
        spark.conf.set(SHUFFLE, "2")
        _write_region(tmp_path / "region.parquet", [1, 2])
        load_table(spark, str(tmp_path), "region")
        assert spark.conf.get(SHUFFLE) == "2"
    finally:
        spark.conf.set(SHUFFLE, saved)


def test_unconfigured_session_still_gets_nanos_as_long(spark, sf_dir):
    """A vanilla session built outside `get_spark` was never configured:
    its first load applies the runtime confs, so events.parquet stays
    readable."""
    vanilla = spark.newSession()
    vanilla.conf.set(NANOS, "false")
    assert vanilla.conf.get(CONFIGURED_KEY, None) is None
    ts = load_table(vanilla, sf_dir, "events").schema["ts"].dataType
    assert vanilla.conf.get(NANOS) == "true"
    assert vanilla.conf.get(CONFIGURED_KEY) == "true"
    assert ts.typeName() == "timestamp_ntz"
