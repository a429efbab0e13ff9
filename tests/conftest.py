import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))


@pytest.fixture(scope="session")
def spark():
    from online_anomaly_detection_root_cause_analysis_spark.session import get_spark

    spark = get_spark(app_name="pytest", cpus=4, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_views(con, sf_dir: str) -> None:
    for t in ("events", "documents"):
        path = Path(sf_dir) / f"{t}.parquet"
        if path.exists():
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
