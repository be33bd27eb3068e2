"""kairos_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of agoragames/kairos (reference studied at
/root/reference; see SURVEY.md).

Architecture (SURVEY.md §7): one long-format table per store
``(name, interval, i_time, r_time, insert_seq, value)`` — the generalized
layout of the reference's SQL backend (sql_backend.py:265-272) — with all
series-type semantics (series/histogram/count/gauge/set) expressed as
DataFrame aggregations. Storage is raw-append; reads aggregate.
"""

from kairos_spark.exceptions import KairosSparkException, UnknownInterval
from kairos_spark.session import (
    configured_builder,
    default_shuffle_partitions,
    local_builder,
)
from kairos_spark.timemath import GregorianTime, RelativeTime, resolve_time
from kairos_spark.timeseries import Timeseries

__version__ = "0.1.0"

__all__ = [
    "KairosSparkException",
    "UnknownInterval",
    "RelativeTime",
    "GregorianTime",
    "resolve_time",
    "Timeseries",
    "configured_builder",
    "default_shuffle_partitions",
    "local_builder",
    "__version__",
]
