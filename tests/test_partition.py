"""spread_small_input placement contract."""

import pytest


def test_spread_small_input_requires_a_key():
    """Without a key the repartition would round-robin rows, whose
    placement changes when a retried task recomputes its upstream; the
    signature refuses the call before touching the frame."""
    from sedona_db_spark.partition import spread_small_input
    with pytest.raises(TypeError):
        spread_small_input(object())
