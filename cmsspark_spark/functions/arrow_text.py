"""Arrow fast paths for the tokenize-heavy text kernels.

The Catalyst forms of the postings / hashed-gram builders
(``text.doc_term_postings``, ``pipeline.logreg_hashed_features``) are
chains of higher-order array functions (array_sort, transform, filter,
aggregate) — HOFs never enter whole-stage codegen, so every row pays an
interpreted walk per expression (measured: ~4.6 s postings / ~6.7 s
featurize at sf0.1 for work a native batch kernel does in <0.5 s).
These ``mapInArrow`` kernels follow guide §4.2: Spark keeps
distribution and I/O, each task hand-processes whole Arrow batches.

PARITY CONTRACT (the reason these are safe to swap in): output rows are
BIT-IDENTICAL to the Catalyst forms — integer counts and bucket ids
only, no floats. The token semantics are pinned to the JVM's:

- split on Java ``\\s+`` = ``[ \\t\\n\\x0B\\f\\r]+`` EXACTLY (Python's
  ``\\s`` is Unicode-wide and WRONG here: NBSP/U+2028 must NOT split);
- ``str.lower()`` — CPython implements the same locale-independent
  FULL Unicode case mapping as the JVM's ``toLowerCase()`` (İ→i̇ two
  codepoints, ẞ→ß, ǅ→ǆ; verified against Spark in
  tests/test_arrow_text_parity.py). DuckDB's ``lower`` was rejected
  for this kernel precisely because it applies SIMPLE mappings
  (İ→i, measured divergence);
- the gram hash replicates ``text.int_base_hash`` digit-for-digit:
  ``int(md5(utf8)[:15 hex], 16) % 2**31``;
- null/empty/whitespace-only documents produce NO rows, matching the
  Catalyst explode of an empty runs array (pinned by the parity
  tests' adversarial corpus).

Every closure pickles BY VALUE (stdlib + pyarrow only — no
``cmsspark_spark`` references), so executors never need the package
importable. The Catalyst twins remain in place as the oracle-reference
fallback, selected per call (``impl="sql"``) or process-wide
(``CMSSPARK_TEXT_IMPL=sql``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def text_impl_default() -> str:
    """Process-wide kernel choice: ``arrow`` (default) or ``sql``
    (the Catalyst oracle-twin fallback)."""
    return os.environ.get("CMSSPARK_TEXT_IMPL", "arrow")


def doc_term_postings_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cols: tuple[str, str, str, str] = ("_doc", "_t", "_dl", "_tf"),
) -> DataFrame:
    """(doc, term, doc_len, term_frequency) postings via one
    ``mapInArrow`` kernel — the Arrow twin of
    ``text.doc_term_postings`` (row-local, zero shuffle, counts
    bit-identical). Each input row is one document, so per-batch
    counting is complete — no cross-batch merge needed."""
    d, t, dl, tf = cols
    id_type = df.schema[id_col].dataType.simpleString()

    def _kernel(batches):
        import re

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")
        out_schema = pa.schema(
            [
                pa.field(d, pa.int64()),
                pa.field(t, pa.string()),
                pa.field(dl, pa.int32()),
                pa.field(tf, pa.int64()),
            ]
        )
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            flat_doc: list = []
            flat_tok: list = []
            flat_dl: list = []
            for i, tx in zip(ids, texts):
                if tx is None:
                    continue
                toks = [w for w in split.split(tx.lower()) if w]
                n = len(toks)
                if n == 0:
                    continue
                flat_doc.extend([i] * n)
                flat_dl.extend([n] * n)
                flat_tok.extend(toks)
            if not flat_doc:
                yield pa.RecordBatch.from_pydict(
                    {f.name: [] for f in out_schema}, schema=out_schema
                )
                continue
            ft = pa.table(
                {
                    d: pa.array(flat_doc, pa.int64()),
                    t: pa.array(flat_tok, pa.string()),
                    dl: pa.array(flat_dl, pa.int32()),
                }
            )
            counted = ft.group_by([d, t, dl]).aggregate([([], "count_all")])
            # pyarrow versions differ in whether keys or aggregates come
            # first in the output: select by name, not by position.
            counted = (
                counted.select([d, t, dl, "count_all"])
                .rename_columns([d, t, dl, tf])
                .cast(out_schema)
            )
            for ob in counted.to_batches():
                yield ob

    return df.select(id_col, text_col).mapInArrow(
        _kernel,
        f"{d} {id_type}, {t} string, {dl} int, {tf} long",
    )


def distinct_shingles_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    cols: tuple[str, str] = ("_id", "_arr"),
) -> DataFrame:
    """(id, per-doc-distinct word n-gram array) via one ``mapInArrow``
    kernel — the Arrow twin of
    ``df.select(id, text.shingles(text_col, n))`` (row-local, values
    bit-identical, first-occurrence order preserved like
    ``array_distinct``). The frame every MinHash/Jaccard/containment/
    decontamination consumer starts from.

    Degenerate rules replicate ``text.raw_ngrams``: a k-token document
    yields max(k−n, 0)+1 grams where gram_i joins tokens [i, i+n)
    (``F.slice`` truncates at the end exactly like a Python slice), so
    k ≤ n collapses to ONE gram — the full token join — and an
    empty/null token stream yields one empty-string gram."""
    x, y = cols

    def _kernel(batches):
        import re

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")
        out_schema = pa.schema(
            [
                pa.field(x, pa.int64()),
                pa.field(y, pa.list_(pa.string())),
            ]
        )
        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            arrs: list = []
            for tx in texts:
                toks = (
                    [w for w in split.split(tx.lower()) if w]
                    if tx is not None
                    else []
                )
                k = len(toks)
                if k <= n:
                    grams = [" ".join(toks)]
                else:
                    grams = [
                        " ".join(toks[j : j + n]) for j in range(k - n + 1)
                    ]
                arrs.append(list(dict.fromkeys(grams)))
            yield pa.RecordBatch.from_pydict(
                {x: ids, y: arrs}, schema=out_schema
            )

    return df.select(id_col, text_col).mapInArrow(
        _kernel, f"{x} bigint, {y} array<string>"
    )


def hashed_gram_counts_arrow(
    df: DataFrame,
    id_col: str,
    y_col: str,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Per-(doc, bucket) hashed unigram+bigram counts with the label
    carried on every row — the Arrow twin of the featurize stage of
    ``pipeline.logreg_hashed_features`` (output ``(_id, _b, _y, _c)``,
    rows bit-identical).

    Gram construction replicates ``text.raw_ngrams`` degenerate rules:
    a k-token document yields k unigrams and max(k−1, 1) bigrams; a
    1-token document's "bigram" is the token itself; an empty token
    stream yields one empty-string unigram and one empty-string bigram
    (``concat_ws`` over an empty slice). The bucket id replicates
    ``text.int_base_hash``: first 15 hex digits of the utf-8 md5 as an
    integer, mod 2^31, mod ``n_buckets``."""
    nb = int(n_buckets)

    def _kernel(batches):
        import re
        from collections import Counter
        from hashlib import md5

        import pyarrow as pa

        split = re.compile("[ \t\n\x0b\f\r]+")
        out_schema = pa.schema(
            [
                pa.field("_id", pa.int64()),
                pa.field("_b", pa.int64()),
                pa.field("_y", pa.float64()),
                pa.field("_c", pa.int64()),
            ]
        )

        def bucket(g: str) -> int:
            h = md5(g.encode("utf-8")).hexdigest()[:15]
            return (int(h, 16) % 2147483648) % nb

        for batch in batches:
            ids = batch.column(0).to_pylist()
            ys = batch.column(1).to_pylist()
            texts = batch.column(2).to_pylist()
            o_id: list = []
            o_b: list = []
            o_y: list = []
            o_c: list = []
            for i, y, tx in zip(ids, ys, texts):
                toks = (
                    [w for w in split.split(tx.lower()) if w]
                    if tx is not None
                    else []
                )
                k = len(toks)
                if k == 0:
                    grams = ["", ""]
                elif k == 1:
                    grams = [toks[0], toks[0]]
                else:
                    grams = toks + [
                        f"{toks[j]} {toks[j + 1]}" for j in range(k - 1)
                    ]
                counts = Counter(bucket(g) for g in grams)
                o_id.extend([i] * len(counts))
                o_y.extend([y] * len(counts))
                for b, c in counts.items():
                    o_b.append(b)
                    o_c.append(c)
            yield pa.RecordBatch.from_pydict(
                {"_id": o_id, "_b": o_b, "_y": o_y, "_c": o_c},
                schema=out_schema,
            )

    return df.select(
        id_col, y_col, text_col
    ).mapInArrow(_kernel, "_id long, _b long, _y double, _c long")
