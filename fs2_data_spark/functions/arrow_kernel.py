"""One way to run a numpy kernel over a DataFrame: :func:`run_kernel`.

Every repartitioned ``mapInArrow`` kernel of the text and vector tiers
(``functions/textkernels.py``, ``functions/veckernels.py``, the linkage and
projection operators) is only its per-batch numpy body; this module owns
the rest of the ``mapInArrow`` contract, once:

- the passthrough (``keep``) columns and the kernel's input columns are
  selected as they are — no casts, so string, decimal or byte ids and NULL
  ids come back with their own Spark type and value;
- the source is spread round-robin over the default parallelism (it is
  typically one small parquet split) and empty batches are skipped;
- the output schema is derived once from the kernel's DDL;
- ``keep`` columns are re-attached by ``take``-ing, per output row, the
  source row index the kernel returns.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa

__all__ = ["run_kernel"]

# kernel(input arrays) -> (source row per output row, output arrays), or
# None to emit nothing; rows=None means one output row per input row
Kernel = Callable[[list[pa.Array]],
                  "tuple[np.ndarray | list | None, Sequence] | None"]


def run_kernel(df, kernel: Kernel, out_ddl: str, inputs: Sequence,
               keep: Sequence[str] = ()):
    """Run ``kernel`` over ``df`` as one ``mapInArrow`` pass.

    Returns the ``keep`` columns (names and Spark types unchanged) followed
    by the ``out_ddl`` columns.  ``inputs`` are column names or Columns,
    handed to ``kernel`` uncast as one list of Arrow arrays per batch.  The
    kernel returns ``(rows, outs)``: ``outs`` holds one numpy or Arrow
    array per ``out_ddl`` field (converted to the field's Arrow type), and
    ``rows`` the batch row each output row comes from.
    """
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
        if isinstance(x, np.ndarray):
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

    sc = df.sparkSession.sparkContext
    return (src.repartition(max(sc.defaultParallelism, 1))
            .mapInArrow(gen, schema))
