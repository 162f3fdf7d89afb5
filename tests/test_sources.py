"""Driver-side header names (sources.header_names): the names must be
exactly what Spark's own CSV header read gives, without a Spark job."""

from __future__ import annotations

import pytest

from finporter_spark.sources import header_names, read_delimited

CASES = {
    "quoted_delimiter": (",", 'a,"b,c",d\n1,2,3\n'),
    "escaped_quote": (",", '"a\\"b",c\n1,2\n'),
    "stray_quote": (",", '"ab"c,d\n1,2\n'),
    "empty_names": (",", '"",b,\n1,2,3\n'),
    "duplicates": (",", "a,A,a,b,x,,x\n1,2,3,4,5,6,7\n"),
    "tsv": ("\t", 'a\tb c\t"c\td"\n1\t2\t3\n'),
    "crlf_after_blank_lines": (",", "\r\n  \r\nname,qty\r\nx,1\r\n"),
    "cr_only": (",", "a,b\rc,d\r"),
    "bom": (",", "\ufeffa,b\n1,2\n"),
    "spaces_kept": (",", ' a , b ,"c" ,d\n1,2,3,4\n'),
}


def _spark_names(spark, path, sep):
    return spark.read.option("header", True).option("sep", sep).csv(path).columns


@pytest.mark.parametrize("case", sorted(CASES))
def test_header_names_match_spark(spark, tmp_path, case):
    sep, text = CASES[case]
    p = tmp_path / "f.csv"
    p.write_bytes(text.encode())
    assert header_names(spark, str(p), sep) == _spark_names(spark, str(p), sep)


def test_header_names_directory_reads_first_visible_file(spark, tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".hidden.csv").write_text("hidden,names\n")
    (d / "a.csv").write_text("id,Name,name\n1,x,y\n")
    (d / "b.csv").write_text("id,Name,name\n2,z,w\n")
    assert header_names(spark, str(d)) == ["id", "Name1", "name2"]
    assert header_names(spark, str(d)) == _spark_names(spark, str(d), ",")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        assert header_names(spark, str(d)) == ["id", "Name", "name"]
        assert header_names(spark, str(d)) == _spark_names(spark, str(d), ",")
    finally:
        spark.conf.unset("spark.sql.caseSensitive")


def test_header_names_directory_skips_blank_files(spark, tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    (d / "a_empty.csv").write_text("")
    (d / "b_blank.csv").write_text("\n  \n")
    (d / "c.csv").write_text("x,y\n1,2\n")
    assert header_names(spark, str(d)) == ["x", "y"]
    assert header_names(spark, str(d)) == _spark_names(spark, str(d), ",")


def test_header_names_directory_takes_the_largest_files_header(spark, tmp_path):
    # Spark's scan reads the largest file first, so its header names the
    # columns when the files disagree
    d = tmp_path / "drop"
    d.mkdir()
    (d / "a.csv").write_text("small,header\n1,2\n")
    (d / "b.csv").write_text("large,header,here\n" + "1,2,3\n" * 50)
    assert header_names(spark, str(d)) == ["large", "header", "here"]
    assert header_names(spark, str(d)) == _spark_names(spark, str(d), ",")


def test_header_names_long_line_and_empty_file(spark, tmp_path):
    names = [f"column_{i:05d}" for i in range(2000)]  # one line > 4 KB
    p = tmp_path / "wide.csv"
    p.write_text(",".join(names) + "\n" + ",".join("1" * 2000) + "\n")
    assert header_names(spark, str(p)) == names
    e = tmp_path / "empty.csv"
    e.write_text("\n \n")
    assert header_names(spark, str(e)) == []
    assert header_names(spark, str(e)) == _spark_names(spark, str(e), ",")


def test_read_delimited_all_string_fires_no_job(spark, tmp_path):
    sc = spark.sparkContext
    p = tmp_path / "f.csv"
    p.write_text('a,"b,c"\n1,"2,3"\n')
    sc.setJobGroup("test_read_delimited_lazy", "read_delimited")
    try:
        df = read_delimited(spark, str(p), all_string=True)
        jobs = sc.statusTracker().getJobIdsForGroup("test_read_delimited_lazy")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert df.columns == ["a", "b,c", "_corrupt_record"]
    assert [tuple(r) for r in df.collect()] == [("1", "2,3", None)]


def test_detect_skips_an_empty_first_file(tmp_path):
    """detect sniffs the file Spark's scan reads first, not the first
    name: a 0-byte a.csv does not speak for the folder."""
    from finporter_spark.handlers import handle_detect
    from finporter_spark.importers.prospector import default_prospector

    d = tmp_path / "drop"
    d.mkdir()
    (d / "a.csv").write_text("")
    (d / "b.csv").write_text("strategyID,title\ns1,Sixty Forty\n")
    assert handle_detect(default_prospector(), str(d)) == ["allocdata: allocStrategy: csv"]


def test_detect_and_header_names_name_the_same_file(spark, tmp_path):
    """Files with different headers: the schema detect reports is the one
    header_names (and Spark's scan) gives decode."""
    from finporter_spark.handlers import handle_detect
    from finporter_spark.importers.prospector import default_prospector

    d = tmp_path / "drop"
    d.mkdir()
    (d / "a.csv").write_text("strategyID,title\ns1,Sixty Forty\n")
    (d / "b.csv").write_text("assetID,title,colorCode,parentAssetID\n" + "Bond,Bonds,13,\n" * 20)
    assert handle_detect(default_prospector(), str(d)) == ["allocdata: allocAsset: csv"]
    assert header_names(spark, str(d)) == ["assetID", "title", "colorCode", "parentAssetID"]
    assert header_names(spark, str(d)) == _spark_names(spark, str(d), ",")
