"""Timeseries facade — the kairos API surface compiled to DataFrame plans.

API parity (kairos/timeseries.py:266-760): ``insert / bulk_insert / get /
series / iterate / list / properties / delete / delete_all / expire``,
five series types, condense / collapse / transforms, multi-name merge,
±N insert fan-out, retention.

Two layers:
- ``*_df`` methods return DataFrames (the scale path — nothing collects,
  plans stay inside Catalyst; aggregation output is ~buckets×names rows
  regardless of input size).
- The reference-shaped methods (``get``/``series``/``iterate``) collect
  that small aggregated result and shape it into the reference's
  ``OrderedDict`` forms — collection happens strictly AFTER aggregation,
  so the driver only ever sees final bucket rows.

Storage is raw-append long format (see kairos_spark.ingest). A memory
store backs unit tests; a parquet store (partitioned by ``interval``)
backs persistence. At cluster scale the parquet store's delete/expire
rewrites correspond to Delta ``DELETE WHERE`` / partition drops
(SURVEY.md §4).
"""

from __future__ import annotations

import datetime as _dt
import itertools
import time as _time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from kairos_spark.config import IntervalConfig, parse_intervals, require_interval
from kairos_spark.functions.buckets import step_size_expr
from kairos_spark.ingest import COARSE_SENTINEL, bucketize
from kairos_spark.timemath import is_gregorian
from kairos_spark.types import GaugeOps, HistogramOps, type_ops

# Parity with the reference's SQL TYPE_MAP (sql_backend.py:29-65).
VALUE_TYPES = {
    "str": T.StringType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "clob": T.StringType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "int": T.LongType(),
    "long": T.LongType(),
    "int64": T.LongType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "datetime": T.TimestampType(),
    "decimal": T.DecimalType(24, 6),
    "blob": T.BinaryType(),
    # reference TYPE_MAP includes sa.Time (sql_backend.py:29-65). Spark
    # 4.1 has a TIME type but rejects it in every aggregate
    # (UNSUPPORTED_TIME_TYPE from max_by/max/collect), so 'time' is
    # stored as LongType microseconds-since-midnight and converted back
    # to datetime.time when results are shaped driver-side.
    "time": T.LongType(),
}


def long_schema(value_type: str = "double") -> T.StructType:
    return T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("interval", T.StringType()),
            T.StructField("i_time", T.LongType()),
            T.StructField("r_time", T.LongType()),
            T.StructField("insert_seq", T.LongType()),
            T.StructField("value", VALUE_TYPES[value_type]),
        ]
    )


class _MemoryStore:
    """Driver-held rows; DataFrame materialized per read. Unit-test scale."""

    def __init__(self):
        self.rows: list[tuple] = []

    def append(self, rows):
        self.rows.extend(rows)

    def scan(self, spark, schema):
        return spark.createDataFrame(self.rows, schema=schema)

    def delete_where(self, keep):
        self.rows = [r for r in self.rows if keep(r)]

    def truncate(self):
        self.rows = []


class _ParquetStore:
    """Append-only parquet partitioned by interval. delete/expire rewrite;
    on a real deployment this store is a Delta table and those become
    ``DELETE WHERE`` + ``OPTIMIZE ZORDER BY (name, i_time)``."""

    def __init__(self, path: str):
        self.path = path

    def append_df(self, df: DataFrame):
        df.write.mode("append").partitionBy("interval").parquet(self.path)

    def scan(self, spark, schema):
        try:
            return spark.read.schema(schema).parquet(self.path)
        except Exception:
            return spark.createDataFrame([], schema=schema)

    def rewrite(self, spark, schema, predicate):
        df = self.scan(spark, schema).where(predicate)
        tmp = self.path.rstrip("/") + ".__rewrite__"
        df.write.mode("overwrite").partitionBy("interval").parquet(tmp)
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
        shutil.move(tmp, self.path)


class Timeseries:
    def __init__(
        self,
        spark: SparkSession,
        type: str = "series",
        intervals: dict | None = None,
        path: str | None = None,
        read_func=None,
        write_func=None,
        value_type: str = "double",
    ):
        self.spark = spark
        self.ops = type_ops(type)
        self.intervals: dict[str, IntervalConfig] = parse_intervals(intervals)
        self.read_func = read_func
        self.write_func = write_func
        self.value_type = value_type
        self.schema = long_schema(value_type)
        if path and "://" in path:
            # kairos 0.9.2 parity: construct from a store URL
            # (CHANGELOG; factory dispatch timeseries.py:288-297) —
            # here the URL picks the physical store layer
            from kairos_spark.sources.tables import open_store

            handle = open_store(path)
            if handle.scheme == "memory":
                path = None
            elif handle.scheme == "delta":
                raise NotImplementedError(
                    "delta:// store requires delta-spark at runtime; "
                    "use parquet:// (same long-table layout)"
                )
            else:
                path = handle.path
        self._store = _ParquetStore(path) if path else _MemoryStore()
        self._seq = itertools.count()

    # ------------------------------------------------------------------ write

    def _stored_keys(self, cfg: IntervalConfig, timestamp: float) -> tuple[int, int]:
        """(i_time, r_time) stored keys for one event timestamp."""
        if is_gregorian(cfg.step):
            i_time = cfg.i_calc.to_bucket(timestamp)
        else:
            i_time = cfg.i_calc.normalize(timestamp)
        if cfg.coarse:
            r_time = COARSE_SENTINEL
        elif is_gregorian(cfg.resolution):
            r_time = cfg.r_calc.to_bucket(timestamp)
        else:
            r_time = cfg.r_calc.normalize(timestamp)
        return i_time, r_time

    _PY_COERCE = {
        T.DoubleType: float,
        T.LongType: int,
        T.StringType: str,
        T.BooleanType: bool,
    }

    def _coerce(self, value):
        """Storage-type coercion (the reference's physical value typing,
        sql_backend.py:29-65 TYPE_MAP applied at write)."""
        if value is None:
            return None
        if self.value_type == "time":
            if isinstance(value, _dt.time):
                return (
                    (value.hour * 60 + value.minute) * 60 + value.second
                ) * 1_000_000 + value.microsecond
            return int(value)
        fn = self._PY_COERCE.get(type(VALUE_TYPES[self.value_type]))
        return fn(value) if fn else value

    def _value_py(self):
        """Storage value → python value mapper applied when shaping
        untransformed containers (None = identity)."""
        if self.value_type == "time":
            def to_time(v):
                if v is None or isinstance(v, _dt.time):
                    return v
                micros = int(v)
                sec, us = divmod(micros, 1_000_000)
                return _dt.time(sec // 3600, sec % 3600 // 60, sec % 60, us)

            return to_time
        return None

    def _rows_for(self, name, value, timestamp, fanout) -> list[tuple]:
        value = self._coerce(value)
        rows = []
        for iname, cfg in self.intervals.items():
            tstamps = [timestamp]
            offsets = range(fanout, 0) if fanout < 0 else range(1, fanout + 1)
            tstamps += [cfg.i_calc.normalize(timestamp, off) for off in offsets]
            for ts in tstamps:
                # write-time drop of data already past retention
                # (parity: redis_backend.py:146-148)
                if cfg.steps and cfg.i_calc.ttl(cfg.steps, ts) == 0:
                    continue
                i_time, r_time = self._stored_keys(cfg, ts)
                rows.append((str(name), iname, i_time, r_time, next(self._seq), value))
        return rows

    _UNSET = object()

    def insert(self, name, value=_UNSET, timestamp=None, intervals: int = 0):
        """Point write (kairos/timeseries.py:439-472). List values expand
        to one row each; ``intervals=±N`` fans into neighbor buckets.
        For count series the value defaults to 1 (``Count.insert``,
        kairos/timeseries.py:925-926); other types require it."""
        if value is self._UNSET:
            if self.ops.name == "count":
                value = 1
            else:
                raise TypeError(
                    f"insert() requires a value for type {self.ops.name!r}"
                )
        if timestamp is None:
            timestamp = _time.time()
        values = value if isinstance(value, (list, tuple, set)) else [value]
        rows = []
        for v in values:
            if self.write_func:
                v = self.write_func(v)
            rows.extend(self._rows_for(name, v, timestamp, intervals))
        self._append_rows(rows)

    def bulk_insert(self, inserts: dict, intervals: int = 0):
        """Batch write ``{ts: {name: [values]}}``; None ts → now
        (kairos/timeseries.py:413-437)."""
        rows = []
        for timestamp, names in inserts.items():
            if timestamp is None:
                timestamp = _time.time()
            for name, values in names.items():
                for v in values:
                    if self.write_func:
                        v = self.write_func(v)
                    rows.extend(self._rows_for(name, v, timestamp, intervals))
        self._append_rows(rows)

    def _append_rows(self, rows):
        if isinstance(self._store, _MemoryStore):
            self._store.append(rows)
        else:
            self._store.append_df(self.spark.createDataFrame(rows, schema=self.schema))

    def ingest_df(self, df: DataFrame, name_col="name", ts_col="ts", value_col="value", fanout=0):
        """Scale-path bulk ingest: bucketize an event DataFrame (map-only,
        no driver loop) and append."""
        long_df = bucketize(df, self.intervals, name_col, ts_col, value_col, fanout)
        if isinstance(self._store, _MemoryStore):
            self._store.append([tuple(r) for r in long_df.collect()])
        else:
            self._store.append_df(long_df)

    # ------------------------------------------------------------------- scan

    def scan(self) -> DataFrame:
        return self._store.scan(self.spark, self.schema)

    def _read_cast(self, col):
        return self.read_func(col) if self.read_func else col

    def _filtered(self, names, interval) -> DataFrame:
        df = self.scan().where(F.col("interval") == interval)
        if self.read_func:
            # read-side cast applied at scan, before any aggregation —
            # the reference applies read_func per row read in every
            # _process_row (kairos/timeseries.py:365, 823-826)
            df = df.withColumn("value", self._read_cast(F.col("value")))
        if isinstance(names, (list, tuple, set)):
            names = list(names)
            df = df.where(F.col("name").isin(names))
            # name-argument order drives join precedence for order-
            # sensitive types (gauge last-name-wins, series concat order;
            # kairos/timeseries.py:836-843, 981-988)
            prio = F.array_position(F.array(*[F.lit(n) for n in names]), F.col("name"))
            df = df.withColumn("__prio", prio)
        else:
            df = df.where(F.col("name") == str(names)).withColumn("__prio", F.lit(1))
        return df

    # ------------------------------------------------------- aggregation core

    def _aggregate(
        self, df, cfg, keys, order, condense_gauge=False, transform=None,
        step_size=None, gauge_join=False,
    ):
        """Aggregate raw rows at the requested grain, returning either the
        per-type container column or transform columns."""
        ops = self.ops
        if transform is not None:
            names = transform if isinstance(transform, (list, tuple)) else [transform]
            exprs = []
            hist_rate = None
            for t in names:
                if not isinstance(t, str):
                    raise TypeError(
                        "DataFrame-level transforms must be named; use the "
                        "dict-level API (get/series) for Python callables"
                    )
                if isinstance(ops, HistogramOps) and t == "rate":
                    hist_rate = t
                    continue
                exprs.append(ops.transform_expr(t, step_size).alias(t))
            if hist_rate is not None:
                if exprs:
                    raise ValueError("histogram rate cannot combine with other transforms in one plan")
                return ops.rate_map(df, keys, step_size)
            return df.groupBy(*keys).agg(*exprs)
        if isinstance(ops, GaugeOps) and condense_gauge:
            # two-stage: per-resolution last write, falsy-filtered, then
            # last resolution wins (kairos/timeseries.py:971-979). The
            # reference joins names per SLOT before condensing
            # (:588-605), so slot time dominates name priority: the last
            # populated r_time wins, ties broken by name-argument order.
            fine = ops.container_agg(df, keys + ["r_time", "__prio"], ["insert_seq"])
            kept = fine.where(self._nonfalsy(F.col("value")))
            return kept.groupBy(*keys).agg(
                F.max_by("value", F.struct("r_time", "__prio")).alias("value")
            )
        if isinstance(ops, GaugeOps) and gauge_join:
            # multi-name join without condense: the reference's _join
            # (timeseries.py:981-988) takes the LAST NON-FALSY name's
            # value per slot (`if row: rval = row`) — per-name last
            # write first, then falsy-filter, then name-argument order
            fine = ops.container_agg(df, keys + ["__prio"], ["insert_seq"])
            kept = fine.where(self._nonfalsy(F.col("value")))
            return kept.groupBy(*keys).agg(
                F.max_by("value", F.col("__prio")).alias("value")
            )
        return ops.container_agg(df, keys, order)

    # -------------------------------------------------------------- get

    def _nonfalsy(self, col):
        """Python-truthiness filter for gauge condense (reference drops
        falsy values: 0, 0.0, '', None — kairos/timeseries.py:976)."""
        dtype = VALUE_TYPES[self.value_type]
        base = col.isNotNull()
        if self.value_type == "time":
            # datetime.time(0, 0) is TRUTHY in python (3.5+), so the
            # reference's filter(None, ...) keeps a midnight reading even
            # though our storage encodes it as 0L — don't drop it
            return base
        if isinstance(dtype, (T.DoubleType, T.LongType, T.DecimalType)):
            return base & (col != 0)
        if isinstance(dtype, T.StringType):
            return base & (col != "")
        if isinstance(dtype, T.BooleanType):
            return base & col
        return base

    def _step_size_col(self, cfg, grain: str):
        """step_size as a column over the grain's time key (variable for
        Gregorian buckets)."""
        calc_step = cfg.step if grain == "i" else cfg.resolution
        key = "i_time" if grain == "i" else "r_time"
        return step_size_expr(F.col(key), calc_step)

    def get_df(self, name, interval, timestamp=None, condense=False, transform=None) -> DataFrame:
        """One interval bucket as a DataFrame keyed by i_time or r_time.
        (kairos/timeseries.py:547-611; gap-filling of the empty coarse
        bucket happens in ``get``'s shaping, not here)."""
        cfg = require_interval(self.intervals, interval)
        if timestamp is None:
            timestamp = _time.time()
        i_key, _ = self._stored_keys(cfg, timestamp)
        df = self._filtered(name, interval).where(F.col("i_time") == i_key)
        multi = isinstance(name, (list, tuple, set))

        if cfg.coarse:
            return self._aggregate(
                df, cfg, ["i_time"], ["__prio", "insert_seq"], gauge_join=multi,
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
        if condense:
            return self._aggregate(
                df, cfg, ["i_time"], ["r_time", "__prio", "insert_seq"],
                condense_gauge=True,
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
        return self._aggregate(
            df, cfg, ["r_time"], ["__prio", "insert_seq"], gauge_join=multi,
            transform=transform, step_size=self._step_size_col(cfg, "r"),
        )

    def get(
        self, name, interval, timestamp=None, condense=False, transform=None,
        join_rows=None, condensed=None, fetch=None, process_row=None,
    ) -> OrderedDict:
        """Reference-shaped read: OrderedDict keyed by bucket timestamps
        (kairos/timeseries.py:547-611).

        Customized-read hooks (parity: README.rst:623-749): ``condense``
        may be a callable receiving the r-keyed OrderedDict of
        containers; ``join_rows`` a callable merging the per-name
        containers of one time slot (applied in name-argument order);
        ``fetch(df, name, interval, i_bucket)`` replaces the engine's
        scan+aggregate for the bucket (df = the raw long-format scan),
        returning ``{r_bucket: data}`` (fine) or ``{None: data}``
        (coarse); ``process_row(data)`` replaces the native cast +
        read_func per container (sql_backend.py:189-212 threading).
        Hooks run driver-side over already-aggregated containers — the
        cluster still does all scanning/aggregation unless ``fetch``
        takes over."""
        cfg = require_interval(self.intervals, interval)
        if condensed is not None:  # deprecated alias (kairos timeseries.py:583)
            condense = condensed
        if timestamp is None:
            timestamp = _time.time()
        if fetch is not None or process_row is not None:
            return self._get_hooked(
                name, cfg, interval, timestamp, condense, transform,
                join_rows, fetch, process_row,
            )
        if callable(condense) and condense is not True:
            fine = self.get(name, interval, timestamp, condense=False, join_rows=join_rows)
            i_key, _ = self._stored_keys(cfg, timestamp)
            data = condense(fine)
            shaped = OrderedDict([(self._key_ts(cfg.i_calc, i_key), data)])
            if transform:
                step = cfg.i_calc.step_size(timestamp)
                return OrderedDict(
                    (k, _apply_callable_transforms(self.ops, v, transform, step))
                    for k, v in shaped.items()
                )
            return shaped
        if join_rows is not None and isinstance(name, (list, tuple, set)):
            per_name = [
                self.get(n, interval, timestamp, condense=condense) for n in name
            ]
            keys = sorted({k for res in per_name for k in res})
            shaped = OrderedDict(
                (k, join_rows([res.get(k) for res in per_name])) for k in keys
            )
            if transform:
                coarse_like = cfg.coarse or bool(condense)
                step = (cfg.i_calc if coarse_like else cfg.r_calc).step_size(timestamp)
                shaped = OrderedDict(
                    (k, _apply_callable_transforms(self.ops, v, transform, step))
                    for k, v in shaped.items()
                )
            return shaped
        callables = _has_callables(transform)
        df_transform = None if callables else transform
        df = self.get_df(name, interval, timestamp, condense, df_transform)
        rows = df.collect()

        coarse_like = cfg.coarse or condense
        key_col = "i_time" if coarse_like else "r_time"
        calc = cfg.i_calc if coarse_like else cfg.r_calc
        shaped = OrderedDict()
        for row in sorted(rows, key=lambda r: r[key_col]):
            shaped[self._key_ts(calc, row[key_col])] = _row_payload(row, self.ops, df_transform, self._value_py())
        if coarse_like and not shaped:
            i_key, _ = self._stored_keys(cfg, timestamp)
            shaped[self._key_ts(cfg.i_calc, i_key)] = _empty_payload(
                self.ops, df_transform, multi=isinstance(name, (list, tuple, set))
            )
        if callables:
            step = (cfg.i_calc if coarse_like else cfg.r_calc).step_size(timestamp)
            shaped = OrderedDict(
                (k, _apply_callable_transforms(self.ops, v, transform, step))
                for k, v in shaped.items()
            )
        return shaped

    def _key_ts(self, calc, stored_key):
        """Stored key → result-dict timestamp (from_bucket semantics)."""
        if is_gregorian(getattr(calc, "step", None)):
            return calc.from_bucket(stored_key)
        return stored_key

    # --------------------------------------------- customized-read hooks

    def _get_hooked(
        self, name, cfg, interval, timestamp, condense, transform,
        join_rows, fetch, process_row,
    ) -> OrderedDict:
        """`get` with fetch/process_row overrides — mirrors the
        reference's threading (timeseries.py:576-611; hooks applied per
        name, then join, then condense, then transform)."""
        if isinstance(name, (list, tuple, set)):
            per = [
                self._get_hooked(
                    n, cfg, interval, timestamp, False, None, None, fetch, process_row
                )
                for n in name
            ]
            join = join_rows or self.ops.py_join
            # get results are flat even for fine data (timeseries.py:591-593)
            rval = _join_results(per, True, join)
        else:
            rval = self._get_base_hooked(name, cfg, interval, timestamp, fetch, process_row)
        step = (cfg.i_calc if cfg.coarse else cfg.r_calc).step_size(timestamp)
        if condense and not cfg.coarse:
            fold = condense if callable(condense) else self.ops.py_condense
            i_key, _ = self._stored_keys(cfg, timestamp)
            rval = OrderedDict([(self._key_ts(cfg.i_calc, i_key), fold(rval))])
            step = cfg.i_calc.step_size(timestamp)
        if transform:
            rval = OrderedDict(
                (k, _apply_callable_transforms(self.ops, v, transform, step))
                for k, v in rval.items()
            )
        return rval

    def _hook_proc(self, process_row):
        """The per-container processing step under hooks. This port's
        ``read_func`` is a Column→Column cast applied at scan (not a
        Python scalar function like the reference's), so the native
        ``py_process_row`` fallback never receives it: on the engine
        path read_func has already run JVM-side; on the fetch path the
        data never passed through the engine, so casting is the fetch
        callable's responsibility."""
        return process_row or (lambda d: self.ops.py_process_row(d, None))

    def _get_base_hooked(self, name, cfg, interval, timestamp, fetch, process_row):
        """Single-name bucket acquisition under hooks (sql_backend.py:
        189-212): custom fetch replaces the read entirely; otherwise the
        cluster aggregates natively — with the scan-side read_func
        suppressed only when a custom process_row takes over that role.

        NOTE: the suppression temporarily mutates ``self.read_func``
        (restored in finally) — hooked reads on a shared Timeseries are
        not reentrant/thread-safe, matching the reference library's
        single-threaded facade contract."""
        proc = self._hook_proc(process_row)
        if fetch is not None:
            i_bucket = cfg.i_calc.to_bucket(timestamp)
            raw = fetch(self.scan(), str(name), interval, i_bucket)
            if cfg.coarse:
                data = next(iter(raw.values())) if raw else None
                payload = proc(data) if data else _empty_payload(self.ops, None)
                return OrderedDict([(cfg.i_calc.from_bucket(i_bucket), payload)])
            out = OrderedDict()
            for r_bucket in sorted(raw or {}):
                out[cfg.r_calc.from_bucket(r_bucket)] = proc(raw[r_bucket])
            return out
        saved = self.read_func
        if process_row is not None:
            self.read_func = None
        try:
            base = self.get(name, interval, timestamp=timestamp)
        finally:
            self.read_func = saved
        # gap-filled empties skip process_row (reference _get applies it
        # only to rows that exist, sql_backend.py:203-210)
        return OrderedDict((k, proc(v) if v else v) for k, v in base.items())

    def _series_hooked(
        self, name, cfg, interval, start, end, steps, condense, collapse,
        transform, join_rows, fetch, process_row,
    ) -> OrderedDict:
        """`series` with fetch/process_row/join_rows overrides — exact
        port of the reference's sequencing (timeseries.py:640-722:
        per-name base → join → per-interval condense → collapse →
        transform, with the reference's step-size choices)."""
        buckets = self._bucket_range(cfg, start, end, steps)
        if collapse:
            condense = condense or True
        if isinstance(name, (list, tuple, set)):
            per = [
                self._series_base_hooked(n, cfg, interval, start, end, steps, buckets, fetch, process_row)
                for n in name
            ]
            join = join_rows or self.ops.py_join
            rval = _join_results(per, cfg.coarse, join)
        else:
            rval = self._series_base_hooked(
                name, cfg, interval, start, end, steps, buckets, fetch, process_row
            )
        if not cfg.coarse:
            if condense:
                fold = condense if callable(condense) else self.ops.py_condense
                for key in list(rval):
                    data = fold(rval[key])
                    if transform and not collapse:
                        data = _apply_callable_transforms(
                            self.ops, data, transform, cfg.i_calc.step_size(key)
                        )
                    rval[key] = data
            elif transform:
                for _i_ts, resolutions in rval.items():
                    for r_ts in list(resolutions):
                        resolutions[r_ts] = _apply_callable_transforms(
                            self.ops, resolutions[r_ts], transform, cfg.r_calc.step_size(r_ts)
                        )
        if cfg.coarse or collapse:
            if collapse:
                fold = (
                    collapse if callable(collapse)
                    else condense if callable(condense)
                    else self.ops.py_condense
                )
                data = fold(rval)
                keys = list(rval) or [self._key_ts(cfg.i_calc, self._stored_i_values(cfg, buckets)[0])]
                if transform:
                    data = _apply_callable_transforms(
                        self.ops, data, transform,
                        cfg.i_calc.step_size(keys[0], keys[-1]),
                    )
                rval = OrderedDict([(keys[0], data)])
            elif transform:
                for key in list(rval):
                    rval[key] = _apply_callable_transforms(
                        self.ops, rval[key], transform, cfg.i_calc.step_size(key)
                    )
        return rval

    def _series_base_hooked(
        self, name, cfg, interval, start, end, steps, buckets, fetch, process_row
    ) -> OrderedDict:
        """Single-name range acquisition under hooks (sql_backend.py:
        214-246): ``fetch(df, name, interval, start_bucket, end_bucket)``
        returns ``{i_bucket: data}`` (coarse) or ``{i_bucket: {r_bucket:
        data}}`` (fine); coarse results gap-fill every bucket. See
        ``_get_base_hooked`` for the read_func / reentrancy contract."""
        proc = self._hook_proc(process_row)
        if fetch is not None:
            raw = fetch(self.scan(), str(name), interval, buckets[0], buckets[-1]) or {}
            rval = OrderedDict()
            if cfg.coarse:
                for b in buckets:
                    data = raw.get(b)
                    rval[cfg.i_calc.from_bucket(b)] = (
                        proc(data) if data else _empty_payload(self.ops, None)
                    )
            else:
                for b in sorted(raw):
                    inner = OrderedDict()
                    for rb in sorted(raw[b] or {}):
                        inner[cfg.r_calc.from_bucket(rb)] = proc(raw[b][rb])
                    rval[cfg.i_calc.from_bucket(b)] = inner
            return rval
        saved = self.read_func
        if process_row is not None:
            self.read_func = None
        try:
            base = self.series(name, interval, start, end, steps)
        finally:
            self.read_func = saved
        if cfg.coarse:
            return OrderedDict((k, proc(v) if v else v) for k, v in base.items())
        return OrderedDict(
            (i_ts, OrderedDict((r_ts, proc(v)) for r_ts, v in inner.items()))
            for i_ts, inner in base.items()
        )

    # ------------------------------------------------------------- series

    def _bucket_range(self, cfg, start, end, steps):
        """The reference's 4-way start/end/steps resolution
        (kairos/timeseries.py:654-677)."""
        steps = steps or cfg.steps or 1
        if end is None:
            if start is None:
                end = _time.time()
                end_b = cfg.i_calc.to_bucket(end)
                start_b = cfg.i_calc.to_bucket(end, -steps + 1)
            else:
                start_b = cfg.i_calc.to_bucket(start)
                end_b = cfg.i_calc.to_bucket(start, steps - 1)
        else:
            end_b = cfg.i_calc.to_bucket(end)
            if start is None:
                start_b = cfg.i_calc.to_bucket(end, -steps + 1)
            else:
                start_b = cfg.i_calc.to_bucket(start)
        start_ts = cfg.i_calc.from_bucket(start_b)
        end_ts = cfg.i_calc.from_bucket(end_b)
        if start_ts > end_ts:
            end_ts = start_ts
        return cfg.i_calc.buckets(start_ts, end_ts)

    def _stored_i_values(self, cfg, buckets):
        if is_gregorian(cfg.step):
            return buckets
        return [cfg.i_calc.from_bucket(b) for b in buckets]

    def series_df(
        self, name, interval, start=None, end=None, steps=None,
        condense=False, collapse=False, transform=None,
    ) -> DataFrame:
        """Range read (kairos/timeseries.py:619-719). Coarse results are
        gap-filled against the bucket spine; fine results carry only
        populated buckets (reference parity, sql_backend.py:228-246)."""
        cfg = require_interval(self.intervals, interval)
        if collapse:
            condense = True
        buckets = self._bucket_range(cfg, start, end, steps)
        i_values = self._stored_i_values(cfg, buckets)
        df = self._filtered(name, interval).where(
            F.col("i_time").between(min(i_values), max(i_values))
            if not is_gregorian(cfg.step)
            else F.col("i_time").isin(i_values)
        )

        if collapse:
            # one output row keyed by the first bucket; step_size spans the
            # whole range (kairos/timeseries.py:706-713)
            first_key = i_values[0]
            span = cfg.i_calc.step_size(
                cfg.i_calc.from_bucket(buckets[0]) if is_gregorian(cfg.step) else i_values[0],
                cfg.i_calc.from_bucket(buckets[-1]) if is_gregorian(cfg.step) else i_values[-1],
            )
            keyed = df.withColumn("__collapse", F.lit(first_key))
            out = self._aggregate(
                keyed, cfg, ["__collapse"], ["i_time", "r_time", "__prio", "insert_seq"],
                condense_gauge=not cfg.coarse,
                transform=transform, step_size=F.lit(span),
            )
            return out.withColumnRenamed("__collapse", "i_time")

        if cfg.coarse or condense:
            agg = self._aggregate(
                df, cfg, ["i_time"], ["r_time", "__prio", "insert_seq"],
                condense_gauge=condense and not cfg.coarse,
                gauge_join=cfg.coarse and isinstance(name, (list, tuple, set)),
                transform=transform, step_size=self._step_size_col(cfg, "i"),
            )
            if cfg.coarse:
                # dense spine: aggregate-then-join keeps the join at
                # (#buckets × #names) scale regardless of input size
                spine = self.spark.createDataFrame(
                    [(v,) for v in i_values], schema=T.StructType([T.StructField("i_time", T.LongType())])
                )
                agg = spine.join(agg, "i_time", "left")
            return agg
        return self._aggregate(
            df, cfg, ["i_time", "r_time"], ["__prio", "insert_seq"],
            gauge_join=isinstance(name, (list, tuple, set)),
            transform=transform, step_size=self._step_size_col(cfg, "r"),
        )

    def series(
        self, name, interval, start=None, end=None, steps=None,
        condense=False, collapse=False, transform=None, condensed=None,
        join_rows=None, fetch=None, process_row=None,
    ) -> OrderedDict:
        """Reference-shaped range read: ``{i_ts: data}`` or nested
        ``{i_ts: {r_ts: data}}`` (kairos/timeseries.py:619-719).

        ``condense`` / ``collapse`` may be callables (customized-read
        hooks, README.rst:623-749): condense maps one interval's
        r-keyed dict to a single container; collapse maps the i-keyed
        dict to one container keyed by the first bucket. ``join_rows``,
        ``fetch(df, name, interval, start_bucket, end_bucket)`` and
        ``process_row(data)`` follow the same contracts as in ``get``."""
        cfg = require_interval(self.intervals, interval)
        if condensed is not None:  # deprecated alias (kairos timeseries.py:648)
            condense = condensed
        if fetch is not None or process_row is not None or (
            join_rows is not None and isinstance(name, (list, tuple, set))
        ):
            return self._series_hooked(
                name, cfg, interval, start, end, steps, condense, collapse,
                transform, join_rows, fetch, process_row,
            )
        if callable(condense) or callable(collapse):
            base = self.series(name, interval, start, end, steps)
            buckets = self._bucket_range(cfg, start, end, steps)
            if callable(condense) and not cfg.coarse:
                base = OrderedDict((k, condense(v)) for k, v in base.items())
            if collapse:
                fold = collapse if callable(collapse) else condense
                data = fold(base)
                first = self._key_ts(cfg.i_calc, self._stored_i_values(cfg, buckets)[0])
                base = OrderedDict([(first, data)])
            if transform:
                first_ts = cfg.i_calc.from_bucket(buckets[0])
                last_ts = cfg.i_calc.from_bucket(buckets[-1])
                out = OrderedDict()
                for k, v in base.items():
                    step = (
                        cfg.i_calc.step_size(first_ts, last_ts)
                        if collapse
                        else cfg.i_calc.step_size(k)
                    )
                    out[k] = _apply_callable_transforms(self.ops, v, transform, step)
                return out
            return base
        callables = _has_callables(transform)
        df_transform = None if callables else transform
        if collapse:
            condense = True
        buckets = self._bucket_range(cfg, start, end, steps)
        df = self.series_df(name, interval, start, end, steps, condense, collapse, df_transform)
        rows = df.collect()
        shaped = OrderedDict()

        if cfg.coarse or condense or collapse:
            for row in sorted(rows, key=lambda r: r["i_time"]):
                shaped[self._key_ts(cfg.i_calc, row["i_time"])] = _row_payload(row, self.ops, df_transform, self._value_py())
            if cfg.coarse and not collapse:
                # spine join already gap-filled; replace null containers /
                # all-null transform rows with the type's empty defaults
                def _is_gap(v):
                    if v is None:
                        return True
                    return isinstance(v, dict) and v and all(x is None for x in v.values())

                multi = isinstance(name, (list, tuple, set))
                shaped = OrderedDict(
                    (k, v if not _is_gap(v) else _empty_payload(self.ops, df_transform, multi=multi))
                    for k, v in shaped.items()
                )
            if callables:
                first_ts = cfg.i_calc.from_bucket(buckets[0])
                last_ts = cfg.i_calc.from_bucket(buckets[-1])
                for k in shaped:
                    step = (
                        cfg.i_calc.step_size(first_ts, last_ts)
                        if collapse
                        else cfg.i_calc.step_size(k)
                    )
                    shaped[k] = _apply_callable_transforms(self.ops, shaped[k], transform, step)
            return shaped

        # fine, no condense: nested {i_ts: {r_ts: data}}
        for row in sorted(rows, key=lambda r: (r["i_time"], r["r_time"])):
            i_ts = self._key_ts(cfg.i_calc, row["i_time"])
            r_ts = self._key_ts(cfg.r_calc, row["r_time"])
            shaped.setdefault(i_ts, OrderedDict())[r_ts] = _row_payload(row, self.ops, df_transform, self._value_py())
        if callables:
            for i_ts, inner in shaped.items():
                for r_ts in inner:
                    inner[r_ts] = _apply_callable_transforms(
                        self.ops, inner[r_ts], transform, cfg.r_calc.step_size(r_ts)
                    )
        return shaped

    # ----------------------------------------------------- metadata/lifecycle

    def iterate(self, name, interval, **kwargs):
        """Generator over every bucket between a stat's first and last
        data point (kairos/timeseries.py:521-545)."""
        cfg = require_interval(self.intervals, interval)
        props = self.properties(name)[interval]
        for bucket in cfg.i_calc.buckets(props["first"], props["last"]):
            data = self.get(name, interval, timestamp=cfg.i_calc.from_bucket(bucket), **kwargs)
            for ts, row in data.items():
                yield (ts, row)

    def list(self) -> list[str]:
        return [r["name"] for r in self.scan().select("name").distinct().collect()]

    def properties(self, name) -> dict:
        """{interval: {'first': ts, 'last': ts}} (kairos/timeseries.py:401-405)."""
        rows = (
            self.scan()
            .where(F.col("name") == str(name))
            .groupBy("interval")
            .agg(F.min("i_time").alias("first"), F.max("i_time").alias("last"))
            .collect()
        )
        out = {}
        for r in rows:
            cfg = self.intervals[r["interval"]]
            first, last = r["first"], r["last"]
            if is_gregorian(cfg.step):
                first, last = cfg.i_calc.from_bucket(first), cfg.i_calc.from_bucket(last)
            out[r["interval"]] = {"first": first, "last": last}
        return out

    def delete(self, name):
        name = str(name)
        if isinstance(self._store, _MemoryStore):
            self._store.delete_where(lambda r: r[0] != name)
        else:
            self._store.rewrite(self.spark, self.schema, F.col("name") != name)

    def delete_all(self):
        if isinstance(self._store, _MemoryStore):
            self._store.truncate()
        else:
            self._store.rewrite(self.spark, self.schema, F.lit(False))

    def expire(self, name=None):
        """Drop rows past each interval's ``steps`` retention
        (kairos/sql_backend.py:161-178)."""
        now = _time.time()
        cutoffs = {}
        for iname, cfg in self.intervals.items():
            if not cfg.steps:
                continue
            if is_gregorian(cfg.step):
                cutoffs[iname] = cfg.i_calc.to_bucket(now, -cfg.steps)
            else:
                cutoffs[iname] = cfg.i_calc.normalize(now, -cfg.steps)
        if not cutoffs:
            return
        if isinstance(self._store, _MemoryStore):
            self._store.delete_where(
                lambda r: (name is not None and r[0] != str(name))
                or r[1] not in cutoffs
                or r[2] > cutoffs[r[1]]
            )
        else:
            keep = F.lit(False)
            for iname, cut in cutoffs.items():
                keep = keep | ((F.col("interval") == iname) & (F.col("i_time") <= cut))
            pred = ~keep
            if name is not None:
                pred = (F.col("name") != str(name)) | pred
            self._store.rewrite(self.spark, self.schema, pred)


# --------------------------------------------------------------- shaping utils


def _join_results(results, coarse, join):
    """Join per-name result dicts (kairos/timeseries.py:726-744): union
    of keys in sorted order; nested r-key join when not coarse."""
    rval = OrderedDict()
    i_keys = sorted({k for res in results for k in res})
    for i_key in i_keys:
        if coarse:
            rval[i_key] = join([res.get(i_key) for res in results])
        else:
            inner = OrderedDict()
            r_keys = sorted({rk for res in results for rk in res.get(i_key, {})})
            for r_key in r_keys:
                inner[r_key] = join([res.get(i_key, {}).get(r_key) for res in results])
            rval[i_key] = inner
    return rval


def _has_callables(transform) -> bool:
    if transform is None:
        return False
    if callable(transform) and not isinstance(transform, str):
        return True
    if isinstance(transform, (list, tuple, set)):
        return any(callable(t) and not isinstance(t, str) for t in transform)
    if isinstance(transform, dict):
        return True
    return False


def _map_container(v, fn):
    """Apply a storage→python value mapper across a container's members
    (histogram maps keys — the counted values — not counts)."""
    if v is None:
        return v
    if isinstance(v, list):
        return [fn(x) for x in v]
    if isinstance(v, (set, frozenset)):
        return {fn(x) for x in v}
    if isinstance(v, dict):
        return {fn(k): c for k, c in v.items()}
    return fn(v)


def _row_payload(row, ops, transform, value_py=None):
    """Extract the result payload from an aggregated row, converting the
    container to the reference's python shape (set type → set)."""
    d = row.asDict()
    d.pop("i_time", None)
    d.pop("r_time", None)
    d.pop("__prio", None)
    if transform is None:
        v = d.get("value")
        if ops.name == "set" and v is not None:
            v = set(v)
        if value_py is not None:
            v = _map_container(v, value_py)
        return v
    if isinstance(transform, (list, tuple)):
        return {t: d[t] for t in transform}
    if isinstance(transform, str):
        return d[transform] if transform in d else d.get("value")
    return d


def _empty_payload(ops, transform, multi=False):
    if transform is None:
        if multi and isinstance(ops, GaugeOps):
            # reference quirk: single-name empty gauge is 0
            # (_type_no_value, timeseries.py:953-955) but a multi-name
            # empty slot is None — gauge _join skips falsy rows and
            # returns its None initial (timeseries.py:981-988)
            return None
        e = ops.empty
        if isinstance(e, frozenset):
            return set()
        if isinstance(e, (list, dict)):
            return type(e)()
        return e
    defaults = {"mean": 0.0, "count": 0, "min": 0, "max": 0, "sum": 0, "rate": 0.0}
    if isinstance(transform, (list, tuple)):
        return {t: defaults.get(t, 0) for t in transform}
    return defaults.get(transform, 0)


def _apply_callable_transforms(ops, data, transform, step_size):
    """Driver-side callable transforms over already-collected containers
    (parity: kairos/timeseries.py:747-755). Named strings still apply via
    python on the container for mixed lists/dicts."""
    def one(t):
        if callable(t) and not isinstance(t, str):
            try:
                return t(data, step_size)
            except TypeError:
                return t(data)
        return _named_on_container(ops, data, t, step_size)

    if isinstance(transform, dict):
        return {name: one(fn) for name, fn in transform.items()}
    if isinstance(transform, (list, tuple, set)):
        return {t: one(t) for t in transform}
    return one(transform)


def _named_on_container(ops, data, name, step_size):
    """Named transforms evaluated on a collected container (used only when
    mixed with callables)."""
    if isinstance(data, dict):  # histogram
        total = sum(data.values())
        if name == "mean":
            return sum(k * v for k, v in data.items()) / total if total else 0
        if name == "count":
            return total
        if name == "min":
            return min(data.keys()) if data else 0
        if name == "max":
            return max(data.keys()) if data else 0
        if name == "sum":
            return sum(k * v for k, v in data.items())
        if name == "rate":
            return {k: v / step_size for k, v in data.items()}
    seq = sorted(data) if isinstance(data, (set, frozenset)) else (data or [])
    if name == "mean":
        return sum(seq) / len(seq) if seq else 0
    if name == "count":
        return len(seq)
    if name == "min":
        return min(seq) if seq else 0
    if name == "max":
        return max(seq) if seq else 0
    if name == "sum":
        return sum(seq)
    if name == "rate":
        return len(seq) / step_size
    raise ValueError(f"unknown transform {name!r}")
