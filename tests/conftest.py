import pytest


@pytest.fixture(scope="session")
def spark():
    from tbl_spark.session import get_spark
    s = get_spark(cores=8, shuffle_partitions=16, app_name="tbl_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def zone_keeps():
    """keeps(stats, op, raw) -> bool: does the zone-prune mask keep a chunk
    whose column carries these manifest stats? The stats are flattened to
    the one-row stats table the prune path reads."""
    import json

    import pyarrow as pa
    from tbl_spark.store import (STATS_SCHEMA, _manifest_stats_rows,
                                 _zone_cannot_match_mask)

    def keeps(stats, op, raw, utc_session=True):
        rows = _manifest_stats_rows(
            {"part_id": 0, "n_rows": 1,
             "columns": json.dumps({"c": {"stats": stats}})})
        t = pa.Table.from_pylist(rows, schema=STATS_SCHEMA)
        return not _zone_cannot_match_mask(t, op, raw, utc_session)[0].as_py()
    return keeps
