import os
import sys

import pytest

# The checkout this suite belongs to; first on sys.path, so its
# broadway_spark and __spark_entry__ are the ones under test.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from broadway_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("broadway-tests", cpus=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_dirs(tmp_path):
    d = {
        "spool": str(tmp_path / "spool"),
        "sink": str(tmp_path / "sink"),
        "sink2": str(tmp_path / "sink2"),
        "dlq": str(tmp_path / "dlq"),
        "ack": str(tmp_path / "ack"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    return d


EVENTS_DDL = (
    "event_id long, user_id long, event_type string, value double, props string"
)


def make_events(n: int, start: int = 0) -> list[dict]:
    """Deterministic synthetic events mirroring the testdata shape."""
    types = ["view", "click", "purchase", "error", "signup"]
    return [
        {
            "event_id": i,
            "user_id": i % 7,
            "event_type": types[i % 5],
            "value": round((i * 37 % 1000) / 10.0, 2),
            "props": f'{{"k": {i % 100}}}',
        }
        for i in range(start, start + n)
    ]


def iter_spool_rows(reader, partition):
    """Iterate a spool reader partition as tuples, unwrapping the
    Arrow fast path (read() may yield pyarrow RecordBatches)."""
    for item in reader.read(partition):
        if hasattr(item, "num_rows"):  # pyarrow.RecordBatch
            cols = [c.to_pylist() for c in item.columns]
            yield from zip(*cols)
        else:
            yield item
