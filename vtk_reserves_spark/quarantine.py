"""The payload quarantine contract, stated once.

The payload operators (``pdf_text``, ``exif_metadata``, ...,
``read_zip_archive``, ``read_media_stream``) parse opaque bytes that
real crawls deliver truncated, mislabeled or corrupt.  They share one
``on_error`` switch:

* ``'raise'`` (the default wherever the parameter exists): the first
  payload that fails to parse fails its task, and so the action —
  fixtures are known-good, so a parse error is a bug.
* ``'null'``: a payload that fails to parse becomes exactly ONE error
  row.  It holds the carried columns (the payload's key — ``doc_id``,
  the archive or shard name — or a value Spark computed from the raw
  bytes before the parse), NULL in every other field, and ``error`` =
  ``"<ExcType>: <message>"``.  Rows the payload produced before it
  failed are dropped, so a multi-row payload yields either all its
  data rows or one error row.  Parsed rows carry ``error`` NULL, so
  ``WHERE error IS NOT NULL`` is the dead-letter filter.

Any other value raises ``ValueError`` at the call, before any Spark
job runs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["check_on_error", "quarantine_map"]

_NULLABLE_INT = {T.IntegerType: "Int32", T.LongType: "Int64"}


def check_on_error(on_error: str) -> bool:
    """Validate an ``on_error`` value; True when failures quarantine."""
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    return on_error == "null"


def quarantine_map(
    df: DataFrame,
    parse: Callable[[bytes], Iterable[Sequence]],
    schema: T.StructType,
    on_error: str,
    carry: Sequence[str] = ("doc_id",),
    payload: str = "payload",
) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` over ``df``'s ``carry`` and
    ``payload`` columns under the module's quarantine contract.

    ``parse(bytes)`` returns the payload's rows (zero or more), each a
    sequence of ``schema``'s fields that are neither carried nor
    ``error``, in schema order; every output row is the carried values
    plus one parsed row.  Carried columns are cast to their ``schema``
    types, and integer fields come back as nullable ``Int32``/``Int64``
    so NULLs survive the Arrow hand-off."""
    safe = check_on_error(on_error)
    carry = list(carry)
    data = [n for n in schema.names if n not in carry and n != "error"]
    cols = carry + data + ["error"]
    nulls = [None] * len(data)
    ints = {
        f.name: _NULLABLE_INT[type(f.dataType)]
        for f in schema.fields
        if type(f.dataType) in _NULLABLE_INT
    }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            keys = zip(*(b[c] for c in carry))
            for key, p in zip(keys, b[payload]):
                try:
                    got = [[*key, *r, None] for r in parse(bytes(p))]
                except Exception as exc:
                    if not safe:
                        raise
                    got = [[*key, *nulls, f"{type(exc).__name__}: {exc}"]]
                rows.extend(got)
            out = pd.DataFrame(rows, columns=cols)
            for c, dtype in ints.items():
                out[c] = pd.array(out[c], dtype=dtype)
            yield out[schema.names]

    return df.select(
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in carry], payload
    ).mapInPandas(run, schema)
