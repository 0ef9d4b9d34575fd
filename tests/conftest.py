import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from social_media_pii_scrubber_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def crash_on_mark_done(monkeypatch):
    """``arm(k)`` makes the k-th ``CheckpointManifest.mark_done`` call
    raise ``RuntimeError("injected failure")``: the write job dies after
    a batch's data is written but before its manifest entry is marked.
    A resume then rewrites that batch, and only the writer's dynamic
    partition overwrite keeps its rows from being duplicated."""
    from social_media_pii_scrubber_spark.plans.checkpoint import (
        CheckpointManifest,
    )

    def arm(k: int) -> None:
        real = CheckpointManifest.mark_done
        calls = []

        def mark_done(self, bucket):
            calls.append(bucket)
            if len(calls) == k:
                raise RuntimeError("injected failure")
            real(self, bucket)

        monkeypatch.setattr(CheckpointManifest, "mark_done", mark_done)

    return arm
