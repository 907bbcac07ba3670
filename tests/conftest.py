from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout these tests belong to, ahead of any other copy of the package
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ksana_corpus_builder_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=8, shuffle_partitions=8)
    yield s
