"""How text becomes tokens, n-grams and hashes — one definition each,
shared by every text operator (dedup, filters, decontamination, DSIR,
sampling, the dataset card and the streaming gate):

  tokens     lowercase, split on whitespace, empty tokens dropped
  windows    every n-element window of an array, space-joined, with
             one of two short-array rules
  hash_sql   the one hash switch: xxhash64 or md5, in the spelling the
             caller's DuckDB twin reproduces
  gram_rows  one row per window, exploded in the projection that
             builds it

Everything here returns Spark SQL strings or DataFrames built from
them, so the DuckDB oracle twins mirror the same formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the 60-bit md5 prefix both Spark and DuckDB compute identically:
#   spark:  cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
#   duckdb: cast('0x' || substr(md5(s), 1, 15) as bigint)
H60 = "cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint)"

# hash_sql spellings per form, {hash_fn: template}:
#   h60   xxhash64 raw, md5 as its 60-bit prefix (integer keys)
#   hex   xxhash64 raw, md5 as its 32-char hex string
#   pos60 both non-negative below 2^60, so % keeps bucket ids >= 0
_HASHES = {
    "h60": {"xxhash64": "xxhash64({s})", "md5": H60},
    "hex": {"xxhash64": "xxhash64({s})", "md5": "md5({s})"},
    "pos60": {"xxhash64": f"abs(xxhash64({{s}}) % {1 << 60})",
              "md5": H60},
}


def tokens(lower: bool = True) -> str:
    """SQL token array of ``text``: whitespace split, empty tokens
    dropped, lowercased unless ``lower`` is False (the Gopher word
    counts are case-sensitive)."""
    if lower:
        return "filter(split(lower(text), '\\\\s+'), t -> t <> '')"
    return "filter(split(text, '\\\\s+'), t -> t <> '')"


def tokenized(docs: DataFrame) -> DataFrame:
    """(doc_id, tk): each doc's :func:`tokens`, a column of its own so
    window builds reference it instead of re-splitting the text."""
    return docs.select("doc_id", F.expr(tokens()).alias("tk"))


def hash_sql(hash_fn: str, s: str = "{s}", form: str = "h60") -> str:
    """SQL hash of the SQL expression ``s`` (by default a ``{s}``
    template, for use inside :func:`windows`). ``hash_fn`` is
    'xxhash64' (the production hash: one native call, 8-byte keys) or
    'md5' (the oracle contract DuckDB reproduces bit for bit);
    ``form`` picks the spelling (see ``_HASHES``)."""
    h = _HASHES[form].get(hash_fn)
    if h is None:
        raise ValueError(f"unknown hash_fn {hash_fn!r}; "
                         "one of 'md5', 'xxhash64'")
    return h.format(s=s)


def windows(arr: str, n: int, whole_doc: bool = False,
            fn: str = "{s}") -> str:
    """SQL array of every ``n``-element window of the array column
    ``arr``, space-joined and passed through the template ``fn``.

    An array shorter than ``n`` has no windows, or with ``whole_doc``
    exactly one: the whole array (a shingle set is never empty, so a
    one-token doc still matches itself). ``sequence(1, 0)`` runs
    DESCENDING, hence the explicit guard."""
    if whole_doc:
        idx = f"sequence(1, greatest(size({arr}) - {n - 1}, 1))"
    else:
        idx = (f"if(size({arr}) < {n}, cast(array() as array<int>), "
               f"sequence(1, size({arr}) - {n - 1}))")
    g = fn.format(s=f"array_join(slice({arr}, i, {n}), ' ')")
    return f"transform({idx}, i -> {g})"


def gram_rows(df: DataFrame, arr: str, n: int,
              hash_fn: str | None = None, form: str = "h60",
              whole_doc: bool = False, distinct: bool = False,
              start: bool = False, out: str = "g") -> DataFrame:
    """(doc_id, [start,] out): one row per :func:`windows` entry of
    ``df``'s array column ``arr`` — hashed by :func:`hash_sql` when
    ``hash_fn`` is given, distinct per doc with ``distinct``, with its
    0-based window index as ``start`` with ``start``.

    The windows are exploded in the projection that builds them. For
    an inner explode of a plain COLUMN, Spark infers a ``size(col) >
    0`` filter and pushes it below the projection that made the
    column, substituting the column's whole build — so every row built
    its window array twice, and the pushed copy re-ran the tokenizer
    inside the per-window lambda (quadratic in doc length). A generator
    over an expression infers no such filter. Once the array is built
    once, hashing inside the window lambda (and taking the distinct
    over the 8-byte or 32-char hashes) costs no more than hashing the
    exploded gram strings, and less for long grams."""
    fn = "{s}" if hash_fn is None else hash_sql(hash_fn, form=form)
    w = windows(arr, n, whole_doc, fn)
    if distinct:
        w = f"array_distinct({w})"
    if start:
        return df.select("doc_id",
                         F.posexplode(F.expr(w)).alias("start", out))
    return df.select("doc_id", F.explode(F.expr(w)).alias(out))
