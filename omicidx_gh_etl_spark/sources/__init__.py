from .archive_extract import archive_member_lines, read_archive_jsonl
from .ncbi_extract import extract_records, parse_xml_strings
from .readers import read_csv
from .rest_source import RestPagesDataSource
from .writers import write_ndjson, write_parquet

__all__ = [
    "read_csv",
    "write_parquet",
    "write_ndjson",
    "RestPagesDataSource",
    "archive_member_lines",
    "read_archive_jsonl",
    "extract_records",
    "parse_xml_strings",
]
