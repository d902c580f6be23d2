"""The Arrow sketch fabric: one fold, one split planner, one merge.

Every Arrow partial producer in the library runs the sketch "add" step
through ``_fold``: given an Arrow table (or record batch), its group-key
arrays and ``{name: (value, family)}`` specs, it prepares (hashes/casts)
each spec's value column once, slices it per key group
(``grouping.arrow_group_indices``) and updates one state per spec and a
row count per key. Its callers:

* the RDD fabric — ``sketch_agg_rdd`` (the one-spec case of
  ``multi_sketch_agg_rdd``) and its file-list form
  ``sketch_partial_filescan``/``sketch_agg_filescan``, the leaf-scan
  short circuit behind ``operators.agg.sketch_partial``/``sketch_agg``;
* the ``mapInArrow`` partial ``operators.multi.multi_sketch_partial``
  (``sketch_partial``'s Arrow path is its one-spec case).

Why the RDD fabric exists: sketch partial aggregation is an update-heavy
leaf — every input row crosses into Python, but only tiny serialized
states come back. Spark's JVM->Python Arrow handoff tops out around ~3M
rows/s regardless of core count, and the SQL Arrow runner adds a
multi-second constant per data-bearing Python stage. Reading the parquet
row groups with pyarrow inside each worker removes the boundary from the
per-row path: the JVM ships (file, row-group) split descriptors out and
serialized states back.

Behind the fold sit one split planner (``_scan``: row-group-aligned
``plan_splits`` bin-packed to 96 MiB, re-planned per row group when that
leaves fewer splits than cores, run as one wave of ``min(splits, cpus)``
tasks that each fold all their splits into one state per key), one
``reduceByKey`` merge (``_merge``) and one row builder (``_keyed``, which
coerces group keys with ``_coerce_key``). Everything after the partial
stage of the DataFrame entry points (shuffle, merge, result, joins) stays
DataFrame/Catalyst; tests assert state equality between the fabrics.

Derived keys: a small expression language (("to_date", col)) covers the
day-bucket case so `(role, days(ts))` grouping needs no JVM round trip.
Derived values: the sketched column itself can be an expression —
``col=("length", "text")`` sketches the per-row string length (the KLL
turn-length case) without materializing it through the JVM first.
Partitioned (Hive/Iceberg ``key=value`` directory) layouts are read
natively: ``partition_filter`` prunes whole files at planning time, and
group keys naming partition columns are materialized from the path.
"""

from __future__ import annotations

import glob as _glob
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, LongType, StructField, StructType, _parse_datatype_string)

from zetasketch_spark.operators.agg import (
    ROWS_COL, SKETCH_COL, _partial_schema)
from zetasketch_spark.operators.grouping import arrow_group_indices

# split bin-packing target, like Spark's maxPartitionBytes
SPLIT_BYTES = 96 << 20


def partition_values(f: str, root: str) -> dict[str, str]:
    """Hive/Iceberg-style partition values from ``key=value`` path
    segments between ``root`` and the file."""
    rel = os.path.relpath(f, root)
    out: dict[str, str] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = v
    return out


def plan_splits(path: str, target_bytes: int = SPLIT_BYTES,
                partition_filter: dict | None = None,
                ) -> list[tuple[str, list[int]]]:
    """Row-group-aligned splits bin-packed to ~target_bytes, like
    FileSourceScan's openCost/maxPartitionBytes planning. Handles flat
    AND Hive/Iceberg-partitioned (``key=value`` directory) layouts;
    ``partition_filter={col: value-or-iterable}`` drops whole files at
    planning time — partition pruning with zero I/O, the parquet twin of
    Iceberg's partition-spec scan planning."""
    import pyarrow.parquet as pq

    if isinstance(path, (list, tuple)):
        # pre-resolved file list (the DataFrame-fabric leaf-scan short
        # circuit hands us df.inputFiles()); no partition columns
        files = sorted(path)
    elif os.path.isfile(path):
        # single-file table (e.g. the driver's sf*/events.parquet): one
        # file, still row-group split below; no partition columns
        files = [path]
    else:
        files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or \
            sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                              recursive=True))
    norm = {}
    for k, v in (partition_filter or {}).items():
        vals = list(v) if isinstance(v, (list, tuple, set, frozenset)) else [v]
        norm[k] = {str(x) for x in vals}
    if norm and files:
        # a filter key absent from the layout would silently aggregate
        # everything while the caller believes it was pruned
        present = set(partition_values(files[0], path))
        missing = set(norm) - present
        if missing:
            raise ValueError(
                f"partition_filter keys {sorted(missing)} are not partition "
                f"columns of {path} (found: {sorted(present) or 'none — flat layout'})")
    splits: list[tuple[str, list[int]]] = []
    for f in files:
        if norm:
            pv = partition_values(f, path)
            if any(pv.get(k) not in want for k, want in norm.items()):
                continue
        md = pq.ParquetFile(f).metadata
        cur: list[int] = []
        cur_bytes = 0
        for rg in range(md.num_row_groups):
            sz = md.row_group(rg).total_byte_size
            if cur and cur_bytes + sz > target_bytes:
                splits.append((f, cur))
                cur, cur_bytes = [], 0
            cur.append(rg)
            cur_bytes += sz
        if cur:
            splits.append((f, cur))
    return splits


def _derive_key_arrays(tbl, keys, derived: dict, part_values: dict | None = None):
    """Returns dict key -> pandas-able arrow array for grouping. Keys
    naming partition columns come from the path (constant per file)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for k in keys:
        if part_values and k in part_values and k not in derived \
                and k not in tbl.column_names:
            out[k] = pa.array([part_values[k]] * tbl.num_rows)
        elif k in derived:
            op, src = derived[k]
            if op == "to_date":
                out[k] = pc.cast(pc.floor_temporal(tbl[src], unit="day"), pa.date32())
            elif op == "date_str":
                out[k] = pc.strftime(tbl[src], format="%Y-%m-%d")
            else:
                raise ValueError(f"unknown derived-key op {op!r}")
        else:
            out[k] = tbl[k]
    return out


def _value_source(col) -> str:
    """The parquet column a (possibly derived) value expression reads."""
    return col[1] if isinstance(col, tuple) else col


def _derive_value_array(tbl, col):
    """The sketched value as a single pyarrow Array. ``col`` is a plain
    column name or ``(op, source_col)`` with op in {"length",
    "cast_double"} — "length" matches Spark's ``length()`` (code points,
    cast to double for the quantile families)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, tuple):
        op, src = col
        if op == "length":
            src_arr = tbl[src]
            if pa.types.is_dictionary(src_arr.type):
                # dictionary-encoded strings (parquet's default for
                # repetitive text): length each dictionary VALUE once,
                # gather by index — pc.utf8_length has no dictionary
                # kernel, and this is O(dict) instead of O(rows) anyway.
                # Null rows have null indices, which take() preserves.
                if isinstance(src_arr, pa.ChunkedArray):
                    src_arr = src_arr.combine_chunks()
                chunks = (src_arr.chunks
                          if isinstance(src_arr, pa.ChunkedArray)
                          else [src_arr])
                val = pa.chunked_array([
                    pc.take(pc.cast(pc.utf8_length(c.dictionary),
                                    pa.float64()), c.indices)
                    for c in chunks] or
                    [pa.array([], type=pa.float64())])
            else:
                val = pc.cast(pc.utf8_length(src_arr), pa.float64())
        elif op == "cast_double":
            val = pc.cast(tbl[src], pa.float64())
        else:
            raise ValueError(f"unknown derived-value op {op!r}")
    else:
        val = tbl[col]
    if isinstance(val, pa.ChunkedArray):
        val = val.combine_chunks()
    if isinstance(val, pa.ChunkedArray):  # combine_chunks may keep the type
        val = val.chunk(0) if val.num_chunks else pa.array([], type=val.type)
    return val


# arrow physical type -> Spark DDL for group-key columns materialized from
# the RDD fabric (unmapped exotic types fall back to their string form
# rather than failing at planning time)
_ARROW_TO_DDL = {"string": "string", "large_string": "string",
                 "int64": "bigint", "int32": "int", "int16": "int",
                 "int8": "int", "bool": "boolean",
                 "double": "double", "float": "float",
                 "timestamp[us]": "timestamp", "timestamp[ns]": "timestamp",
                 "timestamp[ms]": "timestamp", "date32[day]": "date"}


def _plan_key_types(splits, keys, derived, part_keys) -> list[str]:
    """Spark DDL type per group key, resolved from the first split's
    parquet footer (derived keys and path-materialized partition keys
    have fixed types)."""
    import pyarrow.parquet as pq

    sample_schema = pq.read_schema(splits[0][0]) if splits else None

    def _key_type(k: str) -> str:
        if k in derived:
            return "date" if derived[k][0] == "to_date" else "string"
        if k in part_keys:
            return "string"
        if sample_schema is None:
            return "string"
        return _ARROW_TO_DDL.get(str(sample_schema.field(k).type), "string")

    return [_key_type(k) for k in keys]


def _coerce_key(v, t):
    # keys come from arrow_group_indices, whose pandas fallback surfaces
    # nullable int keys as floats with NaN — restore the declared type
    # (None for NaN) so the explicit schema accepts it
    import math

    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if t in ("bigint", "int") and isinstance(v, float):
        return int(v)
    if t == "string" and not isinstance(v, str):
        return str(v)
    return v


def _fold(tbl, key_arrays: dict, specs: dict, acc: dict, rows: dict):
    """The one sketch update loop. Folds Arrow ``tbl`` into ``acc[key]``
    (a list of states in ``specs`` order) and ``rows[key]``;
    ``key_arrays`` is ``{name: Arrow array}`` (empty: one global group)."""
    fams = [fam for _, fam in specs.values()]
    prepared = [fam.prepare_arrow(_derive_value_array(tbl, c))
                for c, fam in specs.values()]
    groups = (arrow_group_indices(key_arrays) if key_arrays
              else {(): np.arange(tbl.num_rows)})
    for key, idx in groups.items():
        states = acc.get(key)
        if states is None:
            states = acc[key] = [fam.make() for fam in fams]
            rows[key] = 0
        for fam, state, values in zip(fams, states, prepared):
            fam.update_prepared(state, values[idx])
        rows[key] += len(idx)


def _drain(acc: dict, rows: dict, specs: dict):
    """``(key, serialized states, rows)`` per key folded by ``_fold``."""
    fams = [fam for _, fam in specs.values()]
    for key, states in acc.items():
        yield key, tuple(f.serialize(s) for f, s in zip(fams, states)), rows[key]


def _keyed(key, key_types, tail) -> tuple:
    """The one row builder: group key coerced to its declared Spark types,
    then ``tail``."""
    return (*(_coerce_key(v, t) for v, t in zip(key, key_types)), *tail)


def _scan(sc, path, keys, specs, derived: dict, partition_filter=None):
    """The one split planner: an RDD of ``(key, (serialized states,
    rows))``, one record per (task, key), plus the splits and the keys
    materialized from partition paths.

    Several splits per task: one accumulated state per (task, key) crosses
    the boundary instead of one per (split, key). One wave of cpus tasks,
    not two: more tasks means more per-task partial states (every one is
    serialized, shuffled and re-merged) plus scheduling overhead —
    measured 0.9 s -> 0.63 s for the map stage at 80 splits / 32 cores.
    Splits are size-binned, so one wave stays balanced."""
    cpus = sc.defaultParallelism
    splits = plan_splits(path, SPLIT_BYTES, partition_filter)
    if 0 < len(splits) < cpus:
        # under-parallel input (e.g. one ~150MB file): re-plan at
        # row-group granularity so every row group is its own task
        # instead of 1-2 byte-binned splits (measured 4.5 s -> ~1 s on a
        # 10M-row single-file table at sf10)
        splits = plan_splits(path, 1, partition_filter)
    # a pre-resolved file list has no partition columns
    part_cols = (set(partition_values(splits[0][0], path))
                 if splits and isinstance(path, str) else set())
    part_keys = {k for k in keys if k in part_cols and k not in derived}
    read_cols = sorted({*[_value_source(c) for c, _ in specs.values()],
                        *[k for k in keys
                          if k not in derived and k not in part_keys],
                        *[src for (_, src) in derived.values()]})
    items = [(f, rgs, partition_values(f, path) if part_keys else None)
             for f, rgs in splits]

    def run_task(it):
        import pyarrow.parquet as pq

        acc: dict = {}
        rows: dict = {}
        for f, rgs, pv in it:
            tbl = pq.ParquetFile(f).read_row_groups(
                rgs, columns=read_cols, use_threads=False).combine_chunks()
            _fold(tbl, _derive_key_arrays(tbl, keys, derived, pv), specs,
                  acc, rows)
        for key, blobs, n in _drain(acc, rows, specs):
            yield key, (blobs, n)

    rdd = sc.parallelize(items, max(1, min(len(splits), cpus)))
    return rdd.mapPartitions(run_task), splits, part_keys


def _merge(states, specs: dict, n_splits: int, cpus: int):
    """The one ``reduceByKey`` merge of ``_scan`` records."""
    fams = [fam for _, fam in specs.values()]

    def merge_pair(a, b):
        return (tuple(f.serialize(f.merge(f.deserialize(x), f.deserialize(y)))
                      for f, x, y in zip(fams, a[0], b[0])),
                a[1] + b[1])

    # reduce-side width: every reduce partition is a Python-worker round
    # trip; with key counts far below the partition count most trips carry
    # almost nothing (measured 1.6 s -> 1.3 s going 64 -> 16 at 465 keys).
    # Scale-adaptive: half the cores locally, capped at 64 on big clusters.
    return states.reduceByKey(
        merge_pair, numPartitions=max(4, min(64, max(cpus // 2, 4), n_splits)))


def _agg(spark, path, keys, specs, derived_keys=None, partition_filter=None,
         key_fields=None, keep_sketch=False, prefix=False) -> DataFrame:
    """Scan, merge and result rows: ``keys + rows_seen + result fields``
    (named ``<spec>_<field>`` with ``prefix``), then with ``keep_sketch``
    each spec's merged state. Key types come from ``key_fields`` or else
    the first split's parquet footer.

    Estimate extraction stays distributed: the result rows are mapped from
    the merged states and the DataFrame is built from the RDD with an
    explicit schema — no driver collect, so a high-cardinality group key
    is as safe here as in the DataFrame path."""
    sc = spark.sparkContext
    derived = derived_keys or {}
    states, splits, part_keys = _scan(sc, path, keys, specs, derived,
                                      partition_filter)
    merged = _merge(states, specs, len(splits), sc.defaultParallelism)
    if key_fields is None:
        key_fields = [
            StructField(k, _parse_datatype_string(t)) for k, t in
            zip(keys, _plan_key_types(splits, keys, derived, part_keys))]
    key_types = [f.dataType.simpleString() for f in key_fields]
    fams = [fam for _, fam in specs.values()]
    fields = [*key_fields, StructField(ROWS_COL, LongType())]
    for n, fam in zip(specs, fams):
        fields += [StructField(f"{n}_{fn}" if prefix else fn,
                               _parse_datatype_string(t))
                   for fn, t in fam.result_fields]
    if keep_sketch:
        fields += [StructField(n, BinaryType()) for n in specs]

    def to_row(kv):
        key, (blobs, rows_seen) = kv
        res = [x.item() if isinstance(x, np.generic) else x
               for f, b in zip(fams, blobs) for x in f.result(f.deserialize(b))]
        return _keyed(key, key_types, (int(rows_seen), *res,
                                       *(blobs if keep_sketch else ())))

    return spark.createDataFrame(merged.map(to_row), StructType(fields))


def sketch_partial_filescan(spark, files, keys, col, family,
                            key_fields: list[StructField]) -> DataFrame:
    """Stage-1 partials over an explicit parquet FILE LIST — the leaf-scan
    short circuit behind ``operators.agg.sketch_partial``: when a
    DataFrame is provably a plain column projection of a parquet scan,
    the partial stage reads the files directly in the RDD runner (no
    JVM->Python Arrow handoff of every row) and returns the SAME
    ``keys + (sketch, rows_seen, partition_id)`` DataFrame the
    ``mapInArrow`` path produces, so merge/result compose unchanged.
    States accumulate across a task's splits, so partial-state volume
    matches the task count, not the split count."""
    states, _, _ = _scan(spark.sparkContext, files, keys,
                         {SKETCH_COL: (col, family)}, {})
    key_types = [f.dataType.simpleString() for f in key_fields]

    def to_rows(pid, it):
        for key, (blobs, n) in it:
            yield _keyed(key, key_types, (*blobs, n, pid))

    return spark.createDataFrame(states.mapPartitionsWithIndex(to_rows),
                                 _partial_schema(key_fields))


def sketch_agg_filescan(spark, files, keys, col, family,
                        key_fields: list[StructField]) -> DataFrame:
    """Full partial->merge->result over an explicit parquet file list,
    entirely in the RDD runner — the fused twin of
    ``sketch_partial_filescan`` for ``sketch_agg(keep_sketch=False)``:
    the SQL-layer exchange + applyInPandas merge crossing cost ~1.7 s of
    a 2 s query at sf1 while the actual kernel work was ~0.3 s; here only
    serialized states cross the reduceByKey shuffle and the result rows
    materialize straight from the reducer."""
    return _agg(spark, files, keys, {SKETCH_COL: (col, family)},
                key_fields=key_fields)


def sketch_agg_rdd(spark, path, keys, col, family, derived_keys=None,
                   keep_sketch: bool = False,
                   partition_filter: dict | None = None) -> DataFrame:
    """Flagship execution fabric: parquet-split scan + ``reduceByKey`` tree
    merge, entirely in the RDD runner.

    Spark's SQL Arrow runner adds a ~2-3 s constant per data-bearing
    Python stage (independent of bytes, cores and batch size); the plain
    RDD pipe has ~5 ms/task overhead, so this pipeline keeps the
    treeAggregate shape (partial per task -> pairwise state merge ->
    estimate) with only serialized sketch states crossing process
    boundaries. State equality with the DataFrame path is asserted in
    tests.

    Returns a Spark DataFrame of ``keys + (rows_seen, estimate fields)``,
    plus the merged ``sketch`` with ``keep_sketch``. ``derived_keys``:
    ``{out_name: (op, source_col)}`` with op in {"to_date", "date_str"};
    ``partition_filter`` prunes partitioned layouts at planning time."""
    return _agg(spark, path, keys, {SKETCH_COL: (col, family)}, derived_keys,
                partition_filter, keep_sketch=keep_sketch)


def multi_sketch_agg_rdd(spark, path, keys, specs, derived_keys=None,
                         partition_filter: dict | None = None) -> DataFrame:
    """One parquet scan, many sketches, on the flagship RDD fabric.

    ``specs``: ``{output_name: (value_col_or_derived, family)}`` — the
    same shape as ``operators.multi.multi_sketch_agg`` (result columns
    are prefixed by the spec name: spec ``users`` with an HLL family
    yields ``users_estimate``), with the fast fabric's derived-value
    forms allowed (``("length", "text")``).

    Why: at 100 TB the scan dominates every north-star job, and the
    daily rollup wants HLL distinct + Count-Min heavy hitters + KLL/DD
    quantiles over the SAME transcripts table. Run separately that is
    3-4 full scans; here each split is decoded once, every family's
    ``prepare_arrow`` kernel runs on the shared Arrow batch, and only a
    tuple of serialized states per (task, key) crosses the process
    boundary. State equality with per-family ``sketch_agg_rdd`` runs is
    asserted in tests.
    """
    return _agg(spark, path, keys, specs, derived_keys, partition_filter,
                prefix=True)
