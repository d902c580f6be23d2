"""Multi-sketch single-pass aggregation: one scan, many sketches.

At 100 TB the scan dominates, so computing HLL distinct + KLL quantiles +
Count-Min heavy hitters (possibly over different columns) in ONE pass over
the table beats running three jobs. Same treeAggregate shape as
``operators.agg`` but the per-(partition, key) state is a tuple of sketch
states, each updated from its own prepared column per Arrow batch.

Output: ``keys..., <name> binary per spec, rows_seen, partition_id`` after
the partial stage; merged + result columns after the full pipeline.
"""

from __future__ import annotations

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from zetasketch_spark.operators.agg import (
    PARTITION_COL, ROWS_COL, _apply_grouped, _key_fields, _partial_schema,
    _positional)
from zetasketch_spark.sketches.base import SketchFamily


def multi_sketch_partial(df: DataFrame, keys: list[str],
                         specs: dict[str, tuple[str, SketchFamily]]) -> DataFrame:
    """Stage 1. ``specs``: {output_name: (value_col, family)}. Families
    with a vectorized Arrow kernel (supports_arrow) hash the batch once;
    the rest go through the generic per-batch pandas fallback
    (`sketches/base.py::_SeriesPrepared`) — state-equal to the pandas
    fabric, just not zero-copy."""
    return _arrow_partial(df, keys, specs)


def _arrow_partial(df: DataFrame, keys: list[str], specs: dict,
                   skip_partitions: frozenset = frozenset()) -> DataFrame:
    """The ``mapInArrow`` partial: every batch goes through
    ``fastscan._fold``. ``skip_partitions``: partition ids to return
    immediately for — ``agg.sketch_partial``'s checkpoint-resume hook."""
    out_schema = _partial_schema(_key_fields(df, keys), list(specs))
    cols = [*keys, *sorted({c for c, _ in specs.values()} - set(keys))]

    def fn(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from zetasketch_spark.operators.fastscan import _drain, _fold

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        if pid in skip_partitions:
            return
        acc: dict = {}
        rows: dict = {}
        for batch in batches:
            batch = batch.rename_columns(cols)
            _fold(batch, {k: batch[k] for k in keys}, specs, acc, rows)
        if acc:
            out = pd.DataFrame(
                [[*k, *blobs, n, pid] for k, blobs, n in _drain(acc, rows, specs)],
                columns=[*keys, *specs, ROWS_COL, PARTITION_COL])
            yield pa.RecordBatch.from_pandas(
                out, schema=to_arrow_schema(out_schema), preserve_index=False)

    return _positional(df, cols).mapInArrow(fn, out_schema)


def multi_sketch_agg(df: DataFrame, keys: list[str],
                     specs: dict[str, tuple[str, SketchFamily]]) -> DataFrame:
    """Full pipeline. Result columns are prefixed by the spec name, e.g.
    spec 'users' with an HLL family yields ``users_estimate``."""
    names = list(specs)
    partials = multi_sketch_partial(df, keys, specs)

    merged_schema = StructType(
        [f for f in partials.schema.fields if f.name in keys]
        + [StructField(n, BinaryType()) for n in names]
        + [StructField(ROWS_COL, LongType())]
    )

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blobs = [specs[n][1].merge_serialized(pdf[n]) for n in names]
        head = [pdf.iloc[0][k] for k in keys]
        return pd.DataFrame([[*head, *blobs, int(pdf[ROWS_COL].sum())]],
                            columns=[*keys, *names, ROWS_COL])

    merged = _apply_grouped(partials, keys, merge_fn, merged_schema)

    out = merged
    for n in names:
        fam = specs[n][1]
        fields = fam.result_fields
        struct_t = ", ".join(f"`{fn_}` {t}" for fn_, t in fields)

        from pyspark.sql.functions import pandas_udf

        def make_extract(fam=fam, fields=fields, struct_t=struct_t):
            @pandas_udf(f"struct<{struct_t}>")
            def extract(blobs: pd.Series) -> pd.DataFrame:
                rows = [fam.result(fam.deserialize(bytes(b))) for b in blobs]
                return pd.DataFrame(rows, columns=[f for f, _ in fields])
            return extract

        out = out.withColumn(f"_{n}", make_extract()(F.col(n)))
        for fn_, _ in fields:
            out = out.withColumn(f"{n}_{fn_}", F.col(f"_{n}.{fn_}"))
        out = out.drop(f"_{n}", n)
    return out
