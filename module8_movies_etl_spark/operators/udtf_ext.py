"""Python UDTF extension point (Spark 4 user-defined table functions).

The engine's documented escape hatches for opaque logic, in order of
preference: native Catalyst expressions (always first), Arrow-batched
``mapInPandas``/``pandas_udf`` (``operators.multimodal``), and — new
in Spark 4 — Python UDTFs for ONE-ROW-IN, MANY-ROWS-OUT shapes where
the row fan-out itself is the opaque part (a tokenizer emitting
records, a parser exploding a log line into fields, a decoder
emitting frames). A UDTF composes in SQL as a ``LATERAL`` table
factor, so downstream operators see ordinary rows.

Policy unchanged: UDFs/UDTFs are the slow path. The shipped example
(``ChunkSplit``) deliberately duplicates semantics the engine already
has natively (``dedup.chunk_dedup_stats``'s transform/posexplode),
and the test suite pins the two paths row-for-row equal — the
extension point is *validated against* the native path, and the
catalog entry carries a full DuckDB oracle like any other operator.
Each UDTF instance processes one partition's rows in-process; no
shuffle is introduced by the lateral join itself.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

# Java's \s is ASCII-only ([ \t\n\x0B\f\r]) while Python str.split()
# breaks on ANY Unicode whitespace (NBSP, ideographic space, ...). The
# UDTF must tokenize exactly like its pinned native twin (split on
# Java \s+ in dedup.chunk_dedup_stats), so it uses this explicit
# ASCII-whitespace pattern, not str.split().
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


@udtf(returnType="pos int, chunk string")
class ChunkSplit:
    """Explode whitespace-tokenized text into fixed 10-token chunks
    with 0-based chunk positions — the UDTF twin of the native chunk
    expression in ``dedup.chunk_dedup_stats``."""

    WIDTH = 10

    def eval(self, text: str):  # noqa: D102 - interface method
        toks = [t for t in _JAVA_WS.split(text) if t] if text else []
        for i in range(0, len(toks), self.WIDTH):
            yield i // self.WIDTH, " ".join(toks[i : i + self.WIDTH])


def chunk_rows_udtf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, chunk) rows via the UDTF lateral join.

    The UDTF is joined through the DataFrame API with the text column
    as its outer reference, so nothing is registered in the session:
    its function registry and catalog stay as they were.
    """
    return (
        df.select(id_col, text_col)
        .lateralJoin(ChunkSplit(F.col(text_col).outer()))
        .select(id_col, "pos", "chunk")
    )
