"""bench_extra.py argument parsing: a bad command line exits with a usage
message before any Spark session starts."""

import pytest

import bench_extra


@pytest.mark.parametrize("argv", [["--plans"], ["--plans", "--all"]])
def test_plans_without_tag_exits_with_usage(monkeypatch, argv):
    def no_spark(*a, **k):
        raise AssertionError("a Spark session started before argument parsing")

    monkeypatch.setattr("crawleria_spark.session.get_spark", no_spark)
    monkeypatch.setattr("sys.argv", ["bench_extra.py", *argv])
    with pytest.raises(SystemExit, match="--plans needs a TAG"):
        bench_extra.main()
