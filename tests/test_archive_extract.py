"""S12 archive-member expansion: synthetic tar.gz / zip fixtures in
the reference's iCite layout (etl/icite.py:47-75)."""

import io
import json
import tarfile
import zipfile

from omicidx_gh_etl_spark.sources.archive_extract import (
    archive_member_lines,
    read_archive_jsonl,
)

ICITE_SCHEMA = "pmid BIGINT, year INT, title STRING, citation_count INT"


def _make_tar(path, members: dict[str, list[dict]]):
    with tarfile.open(path, "w:gz") as tar:
        for name, recs in members.items():
            data = "\n".join(json.dumps(r) for r in recs).encode()
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tar.addfile(info, io.BytesIO(data))


def test_tar_jsonl_members(spark, tmp_path):
    _make_tar(
        tmp_path / "icite_metadata.tar.gz",
        {
            "icite/pmid_1.json": [
                {"pmid": 1, "year": 2019, "title": "a", "citation_count": 5},
                {"pmid": 2, "year": 2020, "title": "b", "citation_count": 0},
            ],
            "icite/pmid_2.json": [
                {"pmid": 3, "year": 2021, "title": "c", "citation_count": 9},
            ],
            "icite/README.txt": [{"ignored": True}],  # wrong suffix
        },
    )
    df = read_archive_jsonl(spark, str(tmp_path), ICITE_SCHEMA)
    rows = {r["pmid"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3]["citation_count"] == 9
    assert rows[1]["member"] == "icite/pmid_1.json"
    assert rows[1]["archive"].endswith("icite_metadata.tar.gz")


def test_zip_csv_member(spark, tmp_path):
    with zipfile.ZipFile(tmp_path / "occ.zip", "w") as zf:
        zf.writestr(
            "open_citation_collection.csv",
            "citing,referenced\n11,22\n11,33\n44,22\n",
        )
        zf.writestr("notes.md", "not a csv\n")
    lines = archive_member_lines(spark, str(tmp_path), member_suffix=".csv")
    got = {(r["member"], r["line_no"], r["line"]) for r in lines.collect()}
    assert got == {
        ("open_citation_collection.csv", 0, "citing,referenced"),
        ("open_citation_collection.csv", 1, "11,22"),
        ("open_citation_collection.csv", 2, "11,33"),
        ("open_citation_collection.csv", 3, "44,22"),
    }


def test_mixed_archives_and_empty(spark, tmp_path):
    # tar + zip in one listing; suffix selects per-call
    _make_tar(
        tmp_path / "a.tar.gz",
        {"x.json": [{"pmid": 7, "year": 1999, "title": "t", "citation_count": 1}]},
    )
    with zipfile.ZipFile(tmp_path / "b.zip", "w") as zf:
        zf.writestr("y.json", json.dumps({"pmid": 8, "year": 2001, "title": "u", "citation_count": 2}))
    df = read_archive_jsonl(spark, str(tmp_path), ICITE_SCHEMA)
    assert {r["pmid"] for r in df.collect()} == {7, 8}
    # empty dir → empty typed frame, no job failure
    empty = tmp_path / "none"
    empty.mkdir()
    assert archive_member_lines(spark, str(empty)).count() == 0


def test_lines_preserve_order_and_position(spark, tmp_path):
    _make_tar(
        tmp_path / "c.tar.gz",
        {"m.json": [{"pmid": i, "year": 2000, "title": "x", "citation_count": i} for i in range(5)]},
    )
    lines = archive_member_lines(spark, str(tmp_path)).collect()
    by_no = {r["line_no"]: json.loads(r["line"])["pmid"] for r in lines}
    assert by_no == {i: i for i in range(5)}
