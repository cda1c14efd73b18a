"""Snapshot resume (keyset watermarks) and check-log/review tests."""

from pyspark.sql import functions as F

from ape_dts_spark import demo
from ape_dts_spark.operators.check_log import read_check_log_keys, review, write_check_log
from ape_dts_spark.operators.checker import check_diff
from ape_dts_spark.sources.resume import SnapshotResumeStore, keyset_predicate, resume_scan


def test_keyset_predicate_shapes():
    assert keyset_predicate(["a"], (5,)) == "(a > 5)"
    assert keyset_predicate(["a", "b"], (5, 7)) == "(a > 5) OR (a = 5 AND b > 7)"
    assert (
        keyset_predicate(["a", "b", "c"], (1, 2, 3), strict=False)
        == "(a > 1) OR (a = 1 AND b > 2) OR (a = 1 AND b = 2 AND c >= 3)"
    )
    assert keyset_predicate(["a", "b"], (1, "x'y")) == "(a > 1) OR (a = 1 AND b > 'x''y')"


def test_resume_scan_roundtrip(spark, sf_dir, tmp_path):
    store = SnapshotResumeStore(str(tmp_path / "wm.json"))
    l = demo.load(spark, sf_dir, "lineitem")

    # first run: everything
    assert resume_scan(l, ["l_orderkey", "l_linenumber"], store, "default", "lineitem").count() == l.count()

    # mid-scan watermark: only rows strictly after the position remain
    store.save("default", "lineitem", (700, 3))
    resumed = resume_scan(l, ["l_orderkey", "l_linenumber"], store, "default", "lineitem")
    expected = l.filter("(l_orderkey > 700) OR (l_orderkey = 700 AND l_linenumber > 3)").count()
    assert resumed.count() == expected and expected > 0

    # finished: nothing to re-read
    store.save("default", "lineitem", None, finished=True)
    assert resume_scan(l, ["l_orderkey", "l_linenumber"], store, "default", "lineitem").count() == 0


def test_check_log_roundtrip_and_review(spark, sf_dir, tmp_path):
    src = demo.load(spark, sf_dir, "orders")
    dst = demo.drifted_orders(spark, sf_dir)
    d = check_diff(src, dst, ["o_orderkey"])
    path = str(tmp_path / "check")
    write_check_log({"orders": (d, ["o_orderkey"])}, "default", path)

    keys = read_check_log_keys(spark, f"{path}/check_orders", ["o_orderkey"], "o_orderkey long")
    assert keys.count() == d.select("o_orderkey").distinct().count()

    # full repair -> review comes back clean
    repaired = src  # target now equals source
    assert review(src, repaired, keys, ["o_orderkey"]).count() == 0

    # no repair -> review reproduces the original findings on flagged keys
    again = review(src, dst, keys, ["o_orderkey"])
    assert again.count() == d.count()
    classes = {r["check_class"] for r in again.select("check_class").distinct().collect()}
    assert classes == {"miss", "diff"}


def test_check_log_reader_multi_file_and_blank_lines(spark, tmp_path):
    """log_reader parity (dt-tests/tests/log_reader): the check-log
    extractor consumes a DIRECTORY of rotated log files — every file's
    entries surface, blank lines are skipped, and an empty/blank-only dir
    yields zero keys instead of erroring (log_reader_empty_test shape)."""
    import os

    from ape_dts_spark.operators.check_log import read_check_log_keys

    d = str(tmp_path / "logs")
    os.makedirs(d)
    with open(os.path.join(d, "log.1"), "w") as fh:
        fh.write('{"log_type":"miss","id_col_values":{"k":1}}\n\n'
                 '{"log_type":"diff","id_col_values":{"k":2}}\n')
    with open(os.path.join(d, "log.2"), "w") as fh:
        fh.write('{"log_type":"miss","id_col_values":{"k":3}}\n'
                 '{"log_type":"miss","id_col_values":{"k":3}}\n')  # dupe key
    keys = read_check_log_keys(spark, d, ["k"], "k long")
    assert sorted(r["k"] for r in keys.collect()) == [1, 2, 3]

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with open(os.path.join(empty, "log.1"), "w") as fh:
        fh.write("\n\n")
    assert read_check_log_keys(spark, empty, ["k"], "k long").count() == 0
