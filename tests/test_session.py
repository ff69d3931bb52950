"""Session posture (square_etl_spark/session.py)."""

from __future__ import annotations

import pytest
from pyspark.errors import NumberFormatException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from square_etl_spark.session import default_driver_memory


def test_dataframe_debugging_is_off(spark):
    """Per-call stack capture is off: no call-site walk and no extra
    py4j round trips on every functions/Column call."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_ansi_cast_error_still_raises_its_class(spark):
    """With capture off an error loses only the Python file:line of its
    query context; the class and message are the engine's."""
    df = spark.range(1).select(F.lit("not a number").cast("int").alias("n"))
    with pytest.raises(NumberFormatException) as err:
        df.collect()
    assert err.value.getCondition() == "CAST_INVALID_INPUT"
    assert "not a number" in str(err.value)


@pytest.mark.parametrize(
    "phys_gib, want",
    [(0.5, "1g"), (1, "1g"), (3, "1g"), (15, "7g"), (16, "8g"), (96, "48g"), (512, "48g")],
)
def test_default_driver_memory_is_half_the_box_clamped(phys_gib, want):
    assert default_driver_memory(int(phys_gib * (1 << 30))) == want


def test_default_driver_memory_reads_the_box():
    heap = default_driver_memory()
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 48
