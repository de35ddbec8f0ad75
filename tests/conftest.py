import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from named_entity_algorithm_project_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    session = get_spark(
        app_name="kg-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield session
    session.stop()


@pytest.fixture
def block_pair_runs(monkeypatch):
    """Spy on ``linking.gated_block_pairs``: the returned list gains the
    vocabulary size of every linking run that scores its pairs in the
    block-pair stage (thread-safe, so pooled builds can share it)."""
    from named_entity_algorithm_project_spark.operators import linking

    runs = []
    real = linking.gated_block_pairs

    def spy(rows, score_source, base, n_norms, candidate_max_df):
        runs.append(n_norms)
        return real(rows, score_source, base, n_norms, candidate_max_df)

    monkeypatch.setattr(linking, "gated_block_pairs", spy)
    return runs
