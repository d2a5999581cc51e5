"""The decode-and-quarantine kernel behind every media operator.

Each media operator (image, audio, video, and the compressed-container
probes) is a pure per-row function over a decoded payload. This module
owns everything around it, once: the NULL-bytes filter, the single
Arrow crossing, one decode per row, and the quarantine contract.

Quarantine catches the codec contract errors only — ``ValueError``
(corrupt or unsupported input; the fuzz sweeps in
``tests/test_fuzz_media.py`` pin that every decoder raises nothing
else) and ``NotImplementedError`` (a format whose container parses but
whose pixel decoder is an honest stub, e.g. WebP). Any other exception
is a bug in this engine and fails the job.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T


def with_ok(schema: T.StructType) -> T.StructType:
    """``schema`` with the boolean ``ok`` column inserted second — the
    kernel layout for operators whose public schema drops failed rows."""
    return T.StructType([schema[0], T.StructField("ok", T.BooleanType()),
                         *schema.fields[1:]])


def map_media(df: DataFrame, id_col: str,
              decode: Callable[[bytes], Any],
              fn: Callable[[Any, Any], list[tuple]],
              schema: T.StructType) -> DataFrame:
    """(``id_col``, ``bytes``) rows -> ``schema`` rows, one Arrow
    crossing, one ``decode`` per row.

    ``schema``'s first field is the row id and its second the boolean
    ``ok``. ``fn(id, decoded)`` returns the output rows for one input
    row as a list of tuples in ``schema`` order, ``ok`` = True: an empty
    list emits nothing, several tuples fan one payload out (augment
    variants, sampled frames, audio landmarks). When ``decode`` or
    ``fn`` raises ``ValueError`` or ``NotImplementedError`` the row
    becomes one ``(id, False, None, ...)`` quarantine row. Rows with
    NULL bytes are filtered out before the crossing.

    Operators whose output has no ``ok`` column call this with
    ``with_ok(schema)`` and finish with ``.filter("ok").drop("ok")``.
    """
    names = schema.fieldNames()
    failed = (None,) * (len(names) - 2)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for rid, data in zip(pdf[id_col], pdf["bytes"]):
                try:
                    out.extend(fn(rid, decode(bytes(data))))
                except (ValueError, NotImplementedError):
                    out.append((rid, False) + failed)
            yield pd.DataFrame(out, columns=names)

    return (df.select(id_col, "bytes").filter("bytes IS NOT NULL")
            .mapInPandas(gen, schema))
