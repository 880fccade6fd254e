"""WaveStore ↔ Iceberg mapping contract (engine/store.py:1-25).

Each documented equivalence gets a direct assertion so a real-cluster
swap to ``df.writeTo(...)`` is drop-in:

    commit_wave(appends)  == one append txn (all-or-nothing, multi-table)
    commit_wave(replaces) == overwritePartitions (latest data only)
    adopt                 == zero-copy append of a pre-written dir
    read                  == spark.table at the CURRENT snapshot
    last_wave             == snapshot summary property
"""

from __future__ import annotations

import os

from cianparser_spark.engine import model
from cianparser_spark.engine.store import WaveStore


def _store(spark, root) -> WaveStore:
    return WaveStore(spark, root, model.TABLE_SCHEMAS,
                     replace_tables=frozenset({"parkreg"}))


def _stopped(spark, rows):
    return spark.createDataFrame(rows, model.STOPPED_SCHEMA)


def test_multi_table_append_is_one_txn(spark, tmp_run_dir):
    """A commit touching several tables publishes atomically: a reader
    sees either none of the wave's appends or all of them (Iceberg:
    one append txn)."""
    st = _store(spark, tmp_run_dir)
    pre_wave = st.last_wave()
    assert pre_wave == -1
    st.commit_wave(0, appends={
        "stopped": _stopped(spark, [(1, 10)]),
        "dead": spark.createDataFrame([], model.TABLE_SCHEMAS["dead"]),
    })
    # a second store handle = an independent reader of CURRENT
    reader = _store(spark, tmp_run_dir)
    assert reader.last_wave() == 0
    assert reader.read("stopped").count() == 1


def test_append_accumulates_replace_overwrites(spark, tmp_run_dir):
    """Append tables accumulate across waves; replace tables expose
    ONLY the latest commit's data (overwritePartitions semantics)."""
    def parkreg(rows):
        return spark.createDataFrame(rows, model.PARKREG_SCHEMA)

    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 10)])})
    st.commit_wave(1, appends={"stopped": _stopped(spark, [(2, 20)])},
                   replaces={"parkreg": parkreg([("aa", 1, 1), ("bb", 1, 2)])})
    st.commit_wave(2, replaces={"parkreg": parkreg([("cc", 2, 1)])})
    assert st.read("stopped").count() == 2          # appends accumulated
    assert st.read("parkreg").count() == 1          # only wave-2 replace
    assert st.last_wave() == 2


def test_adopt_is_zero_copy_append(spark, tmp_run_dir):
    """``adopt`` renames an already-written spool directory into the
    table — the data is visible post-commit and the spool is gone
    (no rewrite)."""
    st = _store(spark, tmp_run_dir)
    spool = os.path.join(tmp_run_dir, "scratch", "spool-x")
    _stopped(spark, [(5, 50), (6, 60)]).write.parquet(spool)
    st.commit_wave(0, adopt={"stopped": spool})
    assert not os.path.exists(spool)
    got = {(r.seed_id, r.captcha_page) for r in st.read("stopped").collect()}
    assert got == {(5, 50), (6, 60)}


def test_reader_pinned_to_published_snapshot(spark, tmp_run_dir):
    """read() resolves through CURRENT at call time: data written but
    not yet published (a mid-wave crash) is invisible, and an empty
    table reads as an empty typed DataFrame, never an error."""
    st = _store(spark, tmp_run_dir)
    assert st.read("stopped").count() == 0          # schema-typed empty
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 1)])})
    # simulate the crash: data dir written, manifest never published
    st._write("stopped", _stopped(spark, [(9, 9)]), 1)
    assert [r.seed_id for r in st.read("stopped").collect()] == [1]
    # the orphan dir exists on disk but outside the snapshot
    dirs = os.listdir(os.path.join(tmp_run_dir, "data", "stopped"))
    assert len(dirs) == 2


def test_local_write_rows_roundtrip(spark, tmp_path):
    """(rows, schema) table values are written driver-side (pyarrow)
    and read back bit-identically through the same explicit schema."""
    from cianparser_spark.engine import model
    from cianparser_spark.engine.store import WaveStore

    st = WaveStore(spark, str(tmp_path / "s"), model.TABLE_SCHEMAS, model.REPLACE_TABLES)
    st.commit_wave(0, appends={
        "metrics": ([{"host": "h", "wave": 0, "pages_fetched": 3, "cards_parsed": 5,
                      "offers_emitted": None, "n_429": 0, "n_errors": 0,
                      "details_fetched": 1, "avg_price": 12.5, "captcha": False}],
                    model.METRICS_SCHEMA),
        "lineage": ([(0, 7, 100, 90)], model.LINEAGE_SCHEMA),
    }, replaces={"parkreg": ([("k\x1f", 1, 2)], model.PARKREG_SCHEMA)})
    m = st.read("metrics").collect()
    assert len(m) == 1 and m[0]["avg_price"] == 12.5 and m[0]["captcha"] is False
    assert m[0]["offers_emitted"] is None and m[0]["pages_fetched"] == 3
    assert st.read("lineage").collect()[0]["output_rows"] == 90
    p = st.read("parkreg").collect()
    assert (p[0]["key"], p[0]["seed_id"], p[0]["page_number"]) == ("k\x1f", 1, 2)
    # empty rows on a replace clears the table
    st.commit_wave(1, replaces={"parkreg": ([], model.PARKREG_SCHEMA)})
    assert st.read("parkreg").count() == 0
    # mixed commit: Spark DataFrame append still works alongside
    st.commit_wave(2, appends={"stopped": ([(9, 2)], model.STOPPED_SCHEMA)})
    assert st.read("stopped").collect()[0]["seed_id"] == 9


def test_compact_preserves_rows_and_swaps_snapshot(spark, tmp_run_dir):
    """Compaction = Iceberg rewrite_data_files + snapshot swap: same
    rows, fewer files, old snapshot's directories still on disk (a
    stale reader keeps working) until vacuum removes them."""
    st = _store(spark, tmp_run_dir)
    for w in range(6):
        st.commit_wave(w, appends={"stopped": _stopped(spark, [(w, w * 10)])})
    before = sorted((r.seed_id, r.captcha_page)
                    for r in st.read("stopped").collect())
    data_dir = os.path.join(tmp_run_dir, "data", "stopped")
    dirs_before = set(os.listdir(data_dir))
    assert len(dirs_before) == 6

    stats = st.compact("stopped")
    assert stats["compacted"] and stats["files_after"] < stats["files_before"]
    after = sorted((r.seed_id, r.captcha_page)
                   for r in st.read("stopped").collect())
    assert after == before
    assert st.last_wave() == 5  # maintenance does not advance the wave
    # old dirs still on disk (stale snapshot readers unaffected)...
    assert dirs_before < set(os.listdir(data_dir))
    removed = st.vacuum()
    assert removed["dirs_removed"] == 6
    # ...and reads still identical after vacuum
    assert sorted((r.seed_id, r.captcha_page)
                  for r in st.read("stopped").collect()) == before
    # appends after maintenance keep working
    st.commit_wave(6, appends={"stopped": _stopped(spark, [(99, 990)])})
    assert st.read("stopped").count() == 7


def test_compact_aborts_on_concurrent_commit(spark, tmp_run_dir):
    """Optimistic concurrency: a commit landing mid-compaction wins;
    the rewrite is discarded, nothing half-visible, data intact."""
    import pytest

    from cianparser_spark.engine.store import ConcurrentCommitError

    st = _store(spark, tmp_run_dir)
    for w in range(3):
        st.commit_wave(w, appends={"stopped": _stopped(spark, [(w, w)])})

    def sneak_commit():
        st.commit_wave(3, appends={"stopped": _stopped(spark, [(7, 70)])})

    with pytest.raises(ConcurrentCommitError):
        st.compact("stopped", on_before_publish=sneak_commit)
    got = sorted((r.seed_id, r.captcha_page)
                 for r in st.read("stopped").collect())
    assert got == [(0, 0), (1, 1), (2, 2), (7, 70)]  # winner's row present
    # the discarded rewrite left no referenced directory: vacuum only
    # removes the loser's orphan (if any), reads unchanged
    st.vacuum()
    assert sorted((r.seed_id, r.captcha_page)
                  for r in st.read("stopped").collect()) == got


def test_merge_upserts_matched_and_inserts_new(spark, tmp_run_dir):
    """MERGE INTO semantics: update keys replace their current rows,
    unmatched keys insert, untouched rows survive byte-identical; old
    snapshot stays readable until vacuum; time travel sees pre-merge."""
    st = _store(spark, tmp_run_dir)
    for w in range(3):
        st.commit_wave(w, appends={"stopped": _stopped(spark, [(w, w * 10)])})
    v_before = st.versions()[-1][0]
    upd = _stopped(spark, [(1, 111), (9, 900)])   # 1 matched, 9 new
    stats = st.merge("stopped", upd, ["seed_id"])
    assert stats == {"rows_before": 3, "rows_updates": 2,
                     "rows_matched": 1, "rows_after": 4}
    got = sorted((r.seed_id, r.captcha_page)
                 for r in st.read("stopped").collect())
    assert got == [(0, 0), (1, 111), (2, 20), (9, 900)]
    # time travel: the pre-merge snapshot still shows the old row
    old = sorted((r.seed_id, r.captcha_page)
                 for r in st.read_as_of("stopped", v_before).collect())
    assert old == [(0, 0), (1, 10), (2, 20)]
    assert st.last_wave() == 2   # maintenance does not advance the wave
    # appends after a merge keep working
    st.commit_wave(3, appends={"stopped": _stopped(spark, [(5, 50)])})
    assert st.read("stopped").count() == 5


def test_merge_rejects_duplicate_update_keys(spark, tmp_run_dir):
    """Iceberg's cardinality rule: two source rows for one merge key is
    an error, never a silent duplicate-key table."""
    import pytest

    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 10)])})
    with pytest.raises(ValueError, match="duplicate"):
        st.merge("stopped", _stopped(spark, [(1, 11), (1, 12)]),
                 ["seed_id"])
    # table untouched by the rejected merge
    assert [(r.seed_id, r.captcha_page)
            for r in st.read("stopped").collect()] == [(1, 10)]


def test_merge_aborts_on_concurrent_commit(spark, tmp_run_dir):
    """Optimistic concurrency on merge, same contract as compact."""
    import pytest

    from cianparser_spark.engine.store import ConcurrentCommitError

    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(0, 0)])})

    def sneak_commit():
        st.commit_wave(1, appends={"stopped": _stopped(spark, [(7, 70)])})

    with pytest.raises(ConcurrentCommitError):
        st.merge("stopped", _stopped(spark, [(0, 99)]), ["seed_id"],
                 on_before_publish=sneak_commit)
    got = sorted((r.seed_id, r.captcha_page)
                 for r in st.read("stopped").collect())
    assert got == [(0, 0), (7, 70)]   # loser's rewrite invisible


def test_compact_noop_on_single_file(spark, tmp_run_dir):
    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 1)])})
    st.compact("stopped")  # may or may not compact (1 dir, N part files)
    stats = st.compact("stopped")
    assert stats["compacted"] is False  # already one file


def test_resume_after_compact_and_vacuum(spark, tmp_run_dir):
    """A crawl interrupted mid-run, compacted AND vacuumed, then
    resumed, bit-matches an uninterrupted run — maintenance must be
    invisible to the engine's own resume path (seen-set reconstruction,
    watermarks, frontier state)."""
    from cianparser_spark.corpus import webgen as W
    from cianparser_spark.engine.crawler import CrawlEngine
    from cianparser_spark.semantics.simulator import CrawlSeed

    seeds = [CrawlSeed(1, "Казань", "flat", "sale", rooms=(1, 2),
                       additional_settings={"start_page": 1, "end_page": 4})]
    d1 = os.path.join(tmp_run_dir, "interrupted")
    e1 = CrawlEngine(spark, d1, seeds, W.DEFAULT_CONFIG, host_tokens=4)
    e1.run(max_waves=2)
    e1.store.compact("offers")
    e1.store.compact("seen")
    e1.store.vacuum()
    e2 = CrawlEngine(spark, d1, seeds, W.DEFAULT_CONFIG, host_tokens=4)
    e2.run()
    resumed = [r.asDict() for r in e2.offers().collect()]

    d2 = os.path.join(tmp_run_dir, "solid")
    e3 = CrawlEngine(spark, d2, seeds, W.DEFAULT_CONFIG, host_tokens=4)
    e3.run()
    assert resumed == [r.asDict() for r in e3.offers().collect()]


def test_schema_evolution_add_nullable_column(spark, tmp_run_dir):
    """Iceberg-style additive schema evolution: widening a table's
    schema with a new nullable column leaves old data readable (nulls)
    while new commits populate it — the read path applies the CURRENT
    schema to every referenced directory, old and new alike."""
    from pyspark.sql import types as T

    v1 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType())])
    v2 = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType()),
                       T.StructField("extra", T.DoubleType(), True)])
    st = WaveStore(spark, tmp_run_dir, {"t": v1})
    st.commit_wave(0, appends={"t": spark.createDataFrame([(1, "a")], v1)})

    evolved = WaveStore(spark, tmp_run_dir, {"t": v2})
    evolved.commit_wave(1, appends={
        "t": spark.createDataFrame([(2, "b", 2.5)], v2)})
    got = {(r.k, r.v, r.extra) for r in evolved.read("t").collect()}
    assert got == {(1, "a", None), (2, "b", 2.5)}
    # compaction rewrites old files under the evolved schema
    evolved.compact("t")
    assert {(r.k, r.v, r.extra)
            for r in evolved.read("t").collect()} == got


def test_time_travel_read_as_of(spark, tmp_run_dir):
    """read_as_of == Iceberg VERSION AS OF: each retained snapshot
    replays the table exactly as that commit saw it."""
    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 10)])})
    st.commit_wave(1, appends={"stopped": _stopped(spark, [(2, 20)])})
    st.commit_wave(2, appends={"stopped": _stopped(spark, [(3, 30)])})
    assert [v for v, _ in st.versions()] == [1, 2, 3]
    assert st.read_as_of("stopped", 1).count() == 1
    assert st.read_as_of("stopped", 2).count() == 2
    assert st.read_as_of("stopped", 3).count() == 3
    assert {r["seed_id"] for r in st.read_as_of("stopped", 2).collect()} == {1, 2}


def test_changelog_is_exact_append_diff(spark, tmp_run_dir):
    """changelog(a, b) returns precisely the rows appended between the
    two snapshots, and an empty frame for an empty range."""
    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 10)])})
    st.commit_wave(1, appends={"stopped": _stopped(spark, [(2, 20), (3, 30)])})
    st.commit_wave(2, appends={"stopped": _stopped(spark, [(4, 40)])})
    delta = st.changelog("stopped", 1, 3)
    assert {r["seed_id"] for r in delta.collect()} == {2, 3, 4}
    assert st.changelog("stopped", 3, 3).count() == 0
    # full history == as-of(first) + changelog(first, last)
    total = st.read_as_of("stopped", 1).count() + delta.count()
    assert total == st.read("stopped").count()


def test_changelog_refuses_replace_tables_and_rewrites(spark, tmp_run_dir):
    """Replace-mode tables have no append delta; a compaction rewrite
    breaks the file-diff expressibility — both must raise, never return
    a wrong answer."""
    import pytest

    st = _store(spark, tmp_run_dir)
    st.commit_wave(0, appends={"stopped": _stopped(spark, [(1, 10)])},
                   replaces={"parkreg": spark.createDataFrame(
                       [], model.TABLE_SCHEMAS["parkreg"])})
    st.commit_wave(1, appends={"stopped": _stopped(spark, [(2, 20)])})
    with pytest.raises(ValueError, match="replace"):
        st.changelog("parkreg", 1, 2)
    st.compact("stopped", target_file_bytes=1 << 30)
    v_after = st.versions()[-1][0]
    with pytest.raises(ValueError, match="compaction"):
        st.changelog("stopped", 1, v_after)
    with pytest.raises(ValueError, match="does not exist"):
        st.read_as_of("stopped", 99)
