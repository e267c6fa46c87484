"""One way to run a Python kernel over a DataFrame.

Every Arrow kernel of the package is only its per-batch (numpy tiers) or
per-document (format engines) body; this module owns the rest of the
``mapInArrow`` contract, once:

- the passthrough (``keep``) columns and the kernel's input columns are
  selected as they are — no casts and no pandas round trip, so string,
  decimal or byte ids, NULL ids, bigints above 2^53 and NaN come back with
  their own Spark type and value;
- empty batches are skipped;
- the output schema is derived once from the kernel's DDL;
- ``keep`` columns are re-attached by ``take``-ing, per output row, the
  source row index the kernel returns.

Three entry points share it:

- :func:`run_kernel` first spreads the source round-robin over the default
  parallelism (the numpy tiers' input is typically one small parquet
  split);
- :func:`map_kernel` runs the batch kernel in place, in the scan stage;
- :func:`run_rows` runs a per-document function in place and owns the
  format engines' error contract: ``strict`` fails the job, any other mode
  emits the engine's fallback row(s) for a document that raises one of the
  engine's ``errors``, and a NULL document gives NULL outputs (one-to-one
  engines) or no rows (exploding engines) in every mode.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pyarrow as pa

__all__ = ["PYTHON_PLAN_NODES", "map_kernel", "run_kernel", "run_rows"]

# physical-plan node names of the Python tier, for "no Python" plan audits
PYTHON_PLAN_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas")

# kernel(input arrays) -> (source row per output row, output arrays), or
# None to emit nothing; rows=None means one output row per input row
Kernel = Callable[[list[pa.Array]],
                  "tuple[np.ndarray | list | None, Sequence] | None"]


def _run(df, kernel: Kernel, out_ddl: str, inputs: Sequence,
         keep: Sequence[str], partitions: int | None):
    import pyspark.sql.functions as F  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415
    from pyspark.sql.types import DataType, StructType  # noqa: PLC0415

    out_struct = DataType.fromDDL(out_ddl)
    out_fields = [pa.field(f.name, to_arrow_type(f.dataType))
                  for f in out_struct.fields]
    keep = list(keep)
    nk = len(keep)
    # an input that is also a keep column is shipped once
    sel, pos = [F.col(c) for c in keep], []
    for i, c in enumerate(inputs):
        if isinstance(c, str) and c in keep:
            pos.append(keep.index(c))
        else:
            pos.append(len(sel))
            sel.append((F.col(c) if isinstance(c, str) else c)
                       .alias(f"__in{i}"))
    src = df.select(*sel)
    schema = StructType(src.schema.fields[:nk] + out_struct.fields)

    def _as_arrow(x, field: pa.Field) -> pa.Array:
        if not isinstance(x, (pa.Array, pa.ChunkedArray)):
            return pa.array(x, type=field.type)
        return x if x.type == field.type else x.cast(field.type)

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            res = kernel([batch.column(p) for p in pos])
            if res is None:
                continue
            rows, outs = res
            kept = batch.columns[:nk]
            if rows is not None and nk:
                idx = pa.array(np.asarray(rows, dtype=np.int64))
                kept = [c.take(idx) for c in kept]
            yield pa.RecordBatch.from_arrays(
                kept + [_as_arrow(x, f) for x, f in zip(outs, out_fields)],
                schema=pa.schema(list(batch.schema)[:nk] + out_fields))

    if partitions is not None:
        src = src.repartition(partitions)
    return src.mapInArrow(gen, schema)


def map_kernel(df, kernel: Kernel, out_ddl: str, inputs: Sequence,
               keep: Sequence[str] = ()):
    """Run ``kernel`` over ``df`` as one ``mapInArrow`` pass, in place.

    Returns the ``keep`` columns (names and Spark types unchanged) followed
    by the ``out_ddl`` columns.  ``inputs`` are column names or Columns,
    handed to ``kernel`` uncast as one list of Arrow arrays per batch.  The
    kernel returns ``(rows, outs)``: ``outs`` holds one numpy array, Arrow
    array or list per ``out_ddl`` field (converted to the field's Arrow
    type), and ``rows`` the batch row each output row comes from.
    """
    return _run(df, kernel, out_ddl, inputs, keep, None)


def run_kernel(df, kernel: Kernel, out_ddl: str, inputs: Sequence,
               keep: Sequence[str] = ()):
    """:func:`map_kernel` after spreading the selected columns round-robin
    over the default parallelism."""
    sc = df.sparkSession.sparkContext
    return _run(df, kernel, out_ddl, inputs, keep,
                max(sc.defaultParallelism, 1))


def run_rows(df, fn: Callable, out_ddl: str, inputs: Sequence,
             keep: Sequence[str] = (), *, mode: str = "strict",
             errors: tuple[type[BaseException], ...] = (),
             fallback: tuple | Iterable | Callable = (),
             explode: bool = False):
    """Run the per-document function ``fn`` over ``df`` in place.

    ``fn(*values)`` gets one row's ``inputs`` as Python values and returns
    that row's ``out_ddl`` tuple, or, with ``explode``, an iterable of such
    tuples (one output row each).  In ``strict`` mode every exception
    propagates and fails the job; in any other mode an exception in
    ``errors`` makes the row emit ``fallback`` instead — a tuple (or, with
    ``explode``, tuples), or a callable that builds it from the exception.

    A NULL in any input is a NULL document, never handed to ``fn``: it
    gives no rows with ``explode`` and otherwise a row of NULLs whose
    ``ok boolean`` success flag, if the engine has one, reads true.
    """
    from pyspark.sql.types import BooleanType, DataType  # noqa: PLC0415

    strict = mode == "strict"
    null_row = tuple(
        True if f.name == "ok" and isinstance(f.dataType, BooleanType)
        else None for f in DataType.fromDDL(out_ddl).fields)

    def kernel(cols):
        rows, outs = [], []
        for i, args in enumerate(zip(*(c.to_pylist() for c in cols))):
            if any(a is None for a in args):
                if not explode:
                    outs.append(null_row)
                continue
            try:
                res = fn(*args)
            except errors as e:
                if strict:
                    raise
                res = fallback(e) if callable(fallback) else fallback
            if explode:
                for r in res:
                    rows.append(i)
                    outs.append(r)
            else:
                outs.append(res)
        if not outs:
            return None
        # one-to-one output rows are the input rows: no take needed
        return (rows if explode else None), list(zip(*outs))

    return map_kernel(df, kernel, out_ddl, inputs, keep)
