"""Python-worker CPU accounting against a known CPU burn."""

import os
import time

import pytest

from perfbench import tracing

BURN_S = 0.4
PARTS = 4


def test_proc_table_sees_this_process():
    table = tracing.process_table()
    assert os.getpid() in table
    assert table[os.getpid()][0] == os.getppid()
    own, kids = tracing.tree_cpu_s(os.getpid())
    assert own > 0 and kids >= 0


def test_dir_diff_reports_new_and_rewritten_files(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    before = tracing.dir_files(str(tmp_path))
    time.sleep(0.01)
    (tmp_path / "a").write_bytes(b"y" * 12)
    (tmp_path / "b").write_bytes(b"z" * 5)
    after = tracing.dir_files(str(tmp_path))
    assert sorted(tracing.new_files(before, after)) == ["a", "b"]


def test_peak_rss_reset_drops_a_past_peak():
    def hwm_rss():
        with open(f"/proc/{os.getpid()}/status") as f:
            kb = dict(l.split(":", 1) for l in f if l.startswith(("VmHWM", "VmRSS")))
        return int(kb["VmHWM"].split()[0]), int(kb["VmRSS"].split()[0])

    block = b"x" * (200 << 20)  # 200 MiB, every page written
    del block
    hwm, rss = hwm_rss()
    assert hwm - rss > 150 << 10
    tracing.reset_peak_rss(os.getpid())
    hwm, rss = hwm_rss()
    assert hwm - rss < 50 << 10


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    s = run.start_session(str(tmp_path_factory.mktemp("spark")))
    pid = tracing.jvm_pid(s)
    yield s
    run.stop_session(s, pid)


def test_python_worker_cpu_is_counted(spark):
    def burn(batches):
        for b in batches:
            t = time.process_time()
            while time.process_time() - t < BURN_S:
                pass
            yield b

    df = spark.range(0, PARTS, numPartitions=PARTS)
    df.mapInPandas(lambda it: it, "id long").count()  # start the workers first
    tr = tracing.Tracer(spark)
    with tr.span("burn"):
        df.mapInPandas(burn, "id long").count()
    row = tr.rows["burn"]
    assert row["calls"] == 1 and row["jobs"] >= 1 and row["stages"] >= 1
    # the workers burned PARTS * BURN_S; Spark's task metrics see none of it
    assert PARTS * BURN_S * 0.9 <= row["python_cpu_s"] <= PARTS * BURN_S + 1.5
    assert row["wall_s"] >= BURN_S
    assert 0 <= row["idle_s"] <= row["wall_s"]


def test_nested_spans_are_inclusive(spark):
    tr = tracing.Tracer(spark)
    with tr.span("outer"):
        spark.range(10).count()
        with tr.span("inner"):
            spark.range(10).count()
    assert tr.rows["inner"]["jobs"] >= 1
    assert tr.rows["outer"]["jobs"] >= tr.rows["inner"]["jobs"] + 1
    tr.freeze()
    with tr.span("outer"):
        spark.range(10).count()
    assert tr.rows["outer"]["calls"] == 1  # frozen: not recorded
    assert 0 < tr.overhead_s < tr.top_wall_s
