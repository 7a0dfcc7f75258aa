"""The executor package zip: one file per call, so two sessions on one
host never overwrite each other's zip."""

import zipfile

from search_engine_spark.session import package_zip


def test_package_zip_paths_are_distinct_and_complete():
    first, second = package_zip(), package_zip()
    assert first != second
    for path in (first, second):
        with zipfile.ZipFile(path) as zf:
            assert "search_engine_spark/engine.py" in zf.namelist()
