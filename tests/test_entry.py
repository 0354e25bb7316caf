"""__spark_entry__ contract tests: entry() smoke + every queries() entry
matches its oracle_sql() in DuckDB at sf0.001 (the driver's own gate,
mirrored locally so regressions surface in `pytest -x -q`)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tools.check_entry import TABLES, _normalize

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert list(pdf.columns) == ["doc_id", "lang", "source", "n_tokens",
                                 "alpha_ratio", "keep", "drop_reason"]


def test_every_query_has_callable_signature():
    qs = entrymod.queries()
    assert len(qs) >= 30
    sqls = entrymod.oracle_sql()
    assert set(sqls) <= set(qs)
    # rows-only entries are exactly the genuinely non-SQL clips ones
    # (Python decode / resample / streaming); everything else — including
    # decision, lineage, eval report, eval by region and audio top-k —
    # carries a DuckDB oracle as of round 4
    assert set(qs) - set(sqls) == {"clips_pipeline", "clips_decode",
                                   "clips_stream_ingest", "clips_resample"}


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql()))
def test_query_matches_duckdb(spark, ddb, name):
    got = entrymod.queries()[name](spark, SF_DIR).toPandas()
    exp = ddb.execute(entrymod.oracle_sql()[name]).fetchdf()
    (g, g_kinds), (e, e_kinds) = _normalize(got), _normalize(exp)
    assert len(g) == len(e), f"{name}: rowcount {len(g)} vs {len(e)}"
    assert list(g.columns) == list(e.columns)
    # driver-faithful: its value hash is dtype-sensitive (810 != 810.0), so
    # an int-vs-float split between Spark and the oracle must fail locally
    assert g_kinds == e_kinds, f"{name}: numeric-kind split {g_kinds} vs {e_kinds}"
    pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)


def test_lineage_metrics_match_pandas_recount(spark):
    """lineage_metrics (one aggregation) over the entry fixture's labels
    equals a pandas recount, map column included; drop_reason_counts
    holds only the reasons that occurred."""
    from engine import config
    from engine.operators import decision

    labels = entrymod._labels_df(spark)
    got = (decision.lineage_metrics(labels).toPandas()
           .sort_values("part_id").reset_index(drop=True))
    lab = labels.toPandas()
    exp = (lab.groupby("part_id")
           .agg(n_total=("clip_id", "size"), n_kept=("keep", "sum"),
                n_scrubbed=("n_scrub_hits", lambda h: int((h > 0).sum())),
                n_repaired=("repaired", "sum"))
           .reset_index())
    exp["n_dropped"] = exp["n_total"] - exp["n_kept"]
    reasons = (lab[~lab["keep"]].groupby("part_id")["drop_reason"]
               .agg(lambda r: dict(r.value_counts())))
    exp["drop_reason_counts"] = exp["part_id"].map(
        lambda p: sorted(reasons.get(p, {}).items()))
    got["drop_reason_counts"] = got["drop_reason_counts"].map(
        lambda m: sorted(dict(m).items()))
    assert len(got) == len(exp) == lab["part_id"].nunique()
    cols = ["part_id", "n_total", "n_kept", "n_dropped", "n_scrubbed",
            "n_repaired", "drop_reason_counts"]
    pd.testing.assert_frame_equal(got[cols], exp[cols], check_dtype=False)
    assert (got["status"] == "committed").all()
    assert (got["rule_version"] == config.rule_version()).all()
    assert all(n > 0 for m in got["drop_reason_counts"] for _, n in m)
    # a part with no drops gets an empty map, not null
    kept_only = decision.lineage_metrics(labels.where("keep")).toPandas()
    assert all(dict(m) == {} for m in kept_only["drop_reason_counts"])


def test_gate_catches_uncast_sum_dtype_split(ddb):
    """Regression for the round-4 driver reds: DuckDB returns uncast
    SUM(CASE ...) as HUGEINT -> pandas float64 while Spark returns int64;
    the local gate's kind check must flag that split even though the
    VALUES are equal (check_entry.py was blind to it for two rounds)."""
    exp = ddb.execute(
        "SELECT SUM(CASE WHEN d_id >= 0 THEN 1 ELSE 0 END) AS n "
        "FROM (SELECT 0 AS d_id UNION ALL SELECT 1)").fetchdf()
    got = pd.DataFrame({"n": pd.Series([2], dtype="int64")})
    (g, g_kinds), (e, e_kinds) = _normalize(got), _normalize(exp)
    # values equal under the old dtype-insensitive compare...
    pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    # ...but the kinds split, and the gate must see it
    assert e_kinds["n"] == "float" and g_kinds["n"] == "int"
    assert g_kinds != e_kinds


@pytest.mark.parametrize("name", ["clips_pipeline", "clips_decode",
                                  "clips_lineage"])
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert df.count() > 0


def test_sources_resolver(spark, clips_t1, tmp_path):
    """Table-ref resolution: parquet paths read schema-asserted; an
    iceberg: ref without the runtime fails fast with an actionable
    message, not a raw Py4J trace."""
    import pytest

    from engine import sources

    path, _, _ = clips_t1
    df = sources.read_clips_table(spark, path)
    assert df.count() > 0 and "clip_id" in df.columns

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        sources.read_clips_table(spark, "iceberg:db.clips")


def test_ingest_manifest_matches_direct_table(spark, tmp_path):
    """Manifest-CSV + binaryFile ingest produces the same labels as the
    same clips written directly as a table; a manifest row with a missing
    payload file flows through as null bytes (missing-payload path)."""
    import csv

    import pandas as pd

    from engine import fixtures, sources
    from engine.operators import pipeline

    clips_pd, _ = fixtures.generate_clips(120, seed=11, profile="test")
    clips_pd = clips_pd.head(60)

    pay = tmp_path / "payloads"
    pay.mkdir()
    rows = []
    for i, r in enumerate(clips_pd.itertuples(index=False)):
        fname = None
        if r.bytes is not None and i % 10 != 7:  # every 10th-ish: no file
            fname = f"{r.clip_id}.raw"
            (pay / fname).write_bytes(bytes(r.bytes))
        rows.append((r.clip_id, fname or "", r.sr_hz, r.dur_ms,
                     r.codec, r.transcript))
    man = tmp_path / "manifest.csv"
    with open(man, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["clip_id", "payload_file", "sr_hz", "dur_ms",
                    "codec", "transcript"])
        w.writerows(rows)

    ingested = sources.ingest_manifest(spark, str(man), str(pay))
    got = ingested.toPandas().sort_values("clip_id").reset_index(drop=True)
    assert len(got) == 60

    # payload parity where a file exists; null bytes where it doesn't
    by_id = clips_pd.set_index("clip_id")
    for r in got.itertuples(index=False):
        orig = by_id.loc[r.clip_id]
        has_file = orig.bytes is not None and \
            list(by_id.index).index(r.clip_id) % 10 != 7
        if has_file:
            assert bytes(r.bytes) == bytes(orig.bytes)
        else:
            assert r.bytes is None

    # end-to-end: pipeline over the ingested frame runs and labels every row
    with pipeline.labeled(ingested) as labels:
        ids = labels.toPandas()["clip_id"]
    assert len(ids) == 60 and ids.is_unique


def test_iceberg_migration_layout_contract(spark, clips_t1):
    """The add_files migration invariant (engine/sources.py): a clips
    table the engine writes must be EXACTLY the layout
    `CALL catalog.system.add_files(...)` imports into an
    identity-partitioned Iceberg table — every data file under a single
    level of `part_id=<int>/` dirs, no data files at the root, and the
    directory key equal to the rows' part_id value in every file."""
    import glob
    import os

    import pyarrow.parquet as pq

    path, _, _ = clips_t1
    root_files = glob.glob(os.path.join(path, "*.parquet"))
    assert root_files == []  # no unpartitioned data files
    part_dirs = glob.glob(os.path.join(path, "part_id=*"))
    assert part_dirs
    for d in part_dirs:
        key = int(os.path.basename(d).split("=", 1)[1])
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert files  # identity partition dir holds the data files...
        assert not glob.glob(os.path.join(d, "*=*"))  # ...one level only
        for f in files:
            cols = pq.read_schema(f).names
            # identity-partition column lives in the PATH, not the file —
            # add_files derives it from the dir name; a duplicate column
            # in-file would collide on import
            assert "part_id" not in cols


def test_materialize_content_addressing(tmp_path, monkeypatch):
    """The side-channel oracle dirs (labels/mel/flags) must be (a) keyed by
    rule_version — so a code/threshold change moves the path and a stale
    file can never be read — (b) skip-if-fresh, (c) atomic: an INCOMPLETE
    leftover dir (no _SUCCESS) is replaced, never served."""
    import os

    from engine import config

    # (a) path moves when the version moves
    p1 = entrymod._side_path("labels")
    monkeypatch.setattr(config, "rule_version", lambda: "deadbeefdeadbeef")
    p2 = entrymod._side_path("labels")
    monkeypatch.undo()
    assert p1 != p2 and "deadbeefdeadbeef" in p2

    # (b) a complete dir is reused without calling the writer
    target = str(tmp_path / "mat")
    calls = []

    def write_ok(tmp):
        calls.append(tmp)
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").write("")
        open(os.path.join(tmp, "data.parquet"), "w").write("x")

    assert entrymod._materialize(target, write_ok) == target
    assert len(calls) == 1 and os.path.exists(f"{target}/_SUCCESS")
    assert entrymod._materialize(target, write_ok) == target
    assert len(calls) == 1  # skip-if-fresh: writer not called again

    # (c) an incomplete leftover (crashed writer: no _SUCCESS) is replaced
    target2 = str(tmp_path / "mat2")
    os.makedirs(target2)
    open(os.path.join(target2, "partial.parquet"), "w").write("torn")
    assert entrymod._materialize(target2, write_ok) == target2
    assert os.path.exists(f"{target2}/_SUCCESS")
    assert not os.path.exists(f"{target2}/partial.parquet")


def test_materialize_cleans_up_on_writer_failure(tmp_path):
    """A raising write_fn must not leak the process-private tmp dir (a
    failed Spark write can leave multi-GB partials), and a later call
    must retry the write."""
    import glob
    import os

    target = str(tmp_path / "mat_fail")

    def write_boom(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "partial.parquet"), "w").write("x")
        raise RuntimeError("executor lost")

    try:
        entrymod._materialize(target, write_boom)
    except RuntimeError:
        pass
    else:  # pragma: no cover
        raise AssertionError("write_fn error must propagate")
    assert not glob.glob(f"{target}.tmp.*")  # no leaked partials
    assert not os.path.exists(target)

    def write_ok(tmp):
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").write("")

    assert entrymod._materialize(target, write_ok) == target
    assert os.path.exists(f"{target}/_SUCCESS")


def test_materialize_sweeps_aged_orphans(tmp_path):
    """Orphan tmp/stale dirs from crashed runs are swept when their pid is
    dead AND the dir has been quiet past the grace age, or unconditionally
    after the 24 h catch-all (pid reuse).  Fresh dead-pid dirs survive
    (cross-PID-namespace writers look dead in this /proc but keep their
    dir mtime moving), and the sweep runs even when the target path is
    already complete — a SIGKILLed loser's dir next to a published path
    must not leak forever."""
    import os
    import time

    target = str(tmp_path / "mat_orphan")
    now = time.time()
    dead_old = f"{target}.tmp.999999999"  # pid_max is < 2^22 on Linux
    dead_fresh = f"{target}.tmp.999999998"
    live_ancient = f"{target}.tmp.1"  # pid 1 is always alive
    for d, age in ((dead_old, 600), (dead_fresh, 0), (live_ancient, 0)):
        os.makedirs(d)
        os.utime(d, (now - age, now - age))
    os.makedirs(f"{target}.stale.999999997")
    os.utime(f"{target}.stale.999999997", (now - 600, now - 600))

    def write_ok(tmp):
        os.makedirs(tmp, exist_ok=True)
        open(os.path.join(tmp, "_SUCCESS"), "w").write("")

    # deep-write blind spot (round-4 ADVICE): Spark stages part files under
    # _temporary/ subdirs and only touches the TOP-LEVEL mtime at job start
    # and commit — a dead-looking (other PID namespace) writer mid-write
    # has an old top-level mtime but a fresh nested part file, and must
    # survive the sweep
    deep_live = f"{target}.tmp.999999996"
    staging = os.path.join(deep_live, "_temporary", "0")
    os.makedirs(staging)
    open(os.path.join(staging, "part-00000"), "w").write("x")
    for p in (deep_live, os.path.join(deep_live, "_temporary")):
        os.utime(p, (now - 600, now - 600))

    assert entrymod._materialize(target, write_ok) == target
    assert not os.path.exists(dead_old)
    assert not os.path.exists(f"{target}.stale.999999997")
    assert os.path.exists(dead_fresh)  # inside the dead-pid grace window
    assert os.path.exists(deep_live)  # fresh nested write keeps it alive

    # 24 h catch-all: even a pid that looks ALIVE (reuse) is reclaimed
    os.utime(live_ancient, (now - 25 * 3600, now - 25 * 3600))
    # sweep must also fire on the skip-if-fresh (already-complete) path
    assert entrymod._materialize(target, write_ok) == target
    assert not os.path.exists(live_ancient)
    assert os.path.exists(f"{target}/_SUCCESS")


def test_sweep_future_mtime_cannot_make_orphan_immortal(tmp_path, monkeypatch):
    """Clock skew: a future-dated mtime inside an orphan, or
    on the orphan dir itself, used to pin the quiet age negative forever.
    The 24 h catch-all now judges the top-level dir's own age, so both
    orphans are reclaimed once it has passed."""
    import os
    import time

    target = str(tmp_path / "mat_skew")
    now = time.time()
    year = 365 * 24 * 3600
    nested = f"{target}.tmp.999999999"  # dead pid, future-dated file inside
    os.makedirs(os.path.join(nested, "_temporary"))
    skewed = os.path.join(nested, "_temporary", "part-00000")
    open(skewed, "w").write("x")
    os.utime(skewed, (now + year, now + year))
    os.utime(nested, (now - 25 * 3600, now - 25 * 3600))
    top = f"{target}.stale.999999998"  # the orphan dir itself future-dated
    os.makedirs(top)
    os.utime(top, (now + year, now + year))

    entrymod._sweep_orphans(target)
    assert not os.path.exists(nested)
    assert os.path.exists(top)  # its own age is ~0 today

    monkeypatch.setattr(time, "time", lambda: now + 25 * 3600)
    entrymod._sweep_orphans(target)
    assert not os.path.exists(top)


def test_materialize_concurrent_publishers_one_winner(tmp_path):
    """N processes racing to materialize the same path (the bench.py-vs-
    pytest scenario from round-3 ADVICE): every process must end up with
    a COMPLETE dir at `path`, no process may ever observe a torn dir,
    and no tmp/stale/lock debris may leak."""
    import glob
    import multiprocessing as mp
    import os

    target = str(tmp_path / "mat_race")

    def worker(idx, q):
        import importlib
        import time

        entry = importlib.import_module("__spark_entry__")

        def write_slow(tmp):
            os.makedirs(tmp)
            for i in range(3):
                open(os.path.join(tmp, f"part-{i}.parquet"), "w").write(
                    f"w{idx}")
                time.sleep(0.01)
            open(os.path.join(tmp, "_SUCCESS"), "w").write("")

        try:
            p = entry._materialize(target, write_slow)
            ok = (os.path.exists(os.path.join(p, "_SUCCESS"))
                  and len(glob.glob(os.path.join(p, "part-*.parquet"))) == 3)
            q.put((idx, ok, None))
        except Exception as e:  # pragma: no cover
            q.put((idx, False, repr(e)))

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [ctx.Process(target=worker, args=(i, q)) for i in range(6)]
    for p in procs:
        p.start()
    results = [q.get(timeout=60) for _ in procs]
    for p in procs:
        p.join(timeout=60)

    assert all(ok for _, ok, _ in results), results
    assert os.path.exists(f"{target}/_SUCCESS")
    assert len(glob.glob(f"{target}/part-*.parquet")) == 3
    # a single writer's files, never an interleaving of two writers
    contents = {open(f).read() for f in glob.glob(f"{target}/part-*")}
    assert len(contents) == 1
    assert not glob.glob(f"{target}.tmp.*")
    assert not glob.glob(f"{target}.stale.*")


def test_warm_side_tables_materializes_everything(spark):
    """warm_side_tables must leave every content-addressed side parquet
    complete (so a bench/correctness harness calling it untimed makes all
    later side-table reads skip-if-fresh)."""
    import os

    entrymod.warm_side_tables(spark)
    for kind in ("labels", "flags", "mel", "spkassign", "spkdim"):
        p = entrymod._side_path(kind)
        assert os.path.exists(os.path.join(p, "_SUCCESS")), kind
