"""§2.10 UDF / UDAF / UDTF surface.

The reference's entire "function surface" is arbitrary Java inside
mappers/reducers; our equivalents are Arrow-batched pandas UDFs
(Series->Series), grouped-map applyInPandas (the UDAF analog), and an
explode-based UDTF shape.  Built-ins everywhere else — these three keys
exist to prove the extension points, not as the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from ..functions.pystage import python_stage_width, to_width
from ..registry import query


def _discounted_price_fn(price: pd.Series, discount: pd.Series) -> pd.Series:
    # Elementwise IEEE-754 ops — bit-identical to the SQL expression.
    return price * (1.0 - discount)


@query(
    "udf_scalar_pandas",
    category="udx",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * (1 - l_discount) AS disc_price "
        "FROM lineitem"
    ),
)
def udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Series->Series pandas UDF (Arrow batches, ~10-100x a
    row-at-a-time Python UDF; SNIPPETS.md pattern).

    The UDF is created lazily — pandas_udf needs an active session to
    parse its return type, and imports must stay session-free.
    """
    disc_price = pandas_udf(_discounted_price_fn, "double")
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


def _group_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    # Integer-valued quantities sum exactly in float64 (all < 2**53),
    # so the result is order-independent and oracle-checkable.
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "n": [len(pdf)],
            "sum_qty": [pdf["l_quantity"].sum()],
            "max_price": [pdf["l_extendedprice"].max()],
        }
    )


@query(
    "udaf_grouped_pandas",
    category="udx",
    oracle=(
        "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sum_qty, "
        "MAX(l_extendedprice) AS max_price FROM lineitem GROUP BY l_returnflag"
    ),
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: the whole group arrives as one pandas
    DataFrame per key (Arrow both ways).  Task width comes from
    ``functions.pystage`` (sized by input bytes): one task and no
    shuffle for a small input, else one hash exchange on the group
    key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return (
        to_width(li, python_stage_width(spark, sf_dir, "lineitem"), "l_returnflag")
        .groupBy("l_returnflag")
        .applyInPandas(
            _group_stats,
            schema="l_returnflag string, n long, sum_qty double, max_price double",
        )
    )


@query(
    "udtf_explode_like",
    category="udx",
    oracle=(
        "SELECT ng, COUNT(*) AS cnt FROM ("
        "  SELECT substring(p_name, CAST(i AS INTEGER), 3) AS ng "
        "  FROM (SELECT p_name, unnest(range(1, length(p_name) - 1)) AS i "
        "        FROM part WHERE length(p_name) >= 3)"
        ") GROUP BY ng"
    ),
)
def udtf_explode_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row -> N-rows expansion: character trigrams of p_name.

    Expressed as explode(transform(sequence(...))) rather than a Python
    UDTF so the expansion stays JVM-side (SURVEY.md §2.10 prefers this
    for the oracle; a Spark 4 Python UDTF would be the escape hatch for
    logic arrays can't express).
    """
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.length("p_name") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(p_name) - 2), i -> substring(p_name, i, 3))"
                )
            ).alias("ng")
        )
        .groupBy("ng")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "x_udtf_python",
    category="udx",
    oracle=(
        "SELECT doc_id, unnest(range(len(string_split(text, ' ')))) AS pos, "
        "unnest(string_split(text, ' ')) AS token FROM documents"
    ),
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Spark 4 Python UDTF (table function class with eval()
    yielding rows) — the escape hatch for one-row -> N-rows logic that
    array expressions can't express.  Positional tokenization here so
    the oracle stays SQL-checkable (DuckDB zips parallel unnests).

    Scale note: Python UDTFs are row-at-a-time on the Python side —
    correct tool for complex per-row expansion, wrong tool for a hot
    path a builtin explode can serve (udtf_explode_like shows that
    preferred form).  Defined lazily: udtf() needs an active session.
    """
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos: long, token: string")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")):
                yield i, tok

    spark.udtf.register("pipeline_tokenize", Tokenize)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token FROM _udtf_docs d, "
        "LATERAL pipeline_tokenize(d.text) t"
    )


def _clean_key_fn(s):
    # pure string normalization: strip + lower + collapse inner runs of
    # spaces — deterministic, no float involvement
    return " ".join(s.strip().lower().split())


@query(
    "x_udf_arrow",
    category="udx",
    oracle=(
        "SELECT p_partkey, "
        "  trim(regexp_replace(lower(p_name), ' +', ' ', 'g')) AS clean_name "
        "FROM part"
    ),
)
def udf_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ARROW-OPTIMIZED Python UDF (``F.udf(useArrow=True)``)
    — the fourth extension point next to pandas_udf / applyInPandas /
    the Python UDTF: scalar Python semantics (row-at-a-time function
    body, no pandas in user code) but Arrow-batched transport, which
    removes most of the classic pickled-UDF serialization tax.  The
    function is pure string normalization, so the oracle reproduces it
    with regex SQL and the hash check proves the boundary crossing
    lossless.

    Scale note: still the slow path relative to built-ins (the body
    runs in Python per row) — this key exists to prove the surface,
    exactly like the other udx keys; the identical cleanup in
    production would be the oracle's regexp_replace expression,
    JVM-side."""
    clean = F.udf(_clean_key_fn, "string", useArrow=True)
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", clean("p_name").alias("clean_name")
    )


def _reconcile_cogroups(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped worker: one pandas frame of orders and one of lineitems
    for the SAME order-key partition slice; reconcile header total vs
    item sum.  All money arrives as exact integer cents (converted
    JVM-side through DECIMAL — pandas only counts and sums int64, so
    the output is engine-portable by construction)."""
    if not len(left):
        # lineitems whose order header is absent from this cogroup:
        # nothing to reconcile against (does not occur on TPC-H data,
        # where every lineitem has its order)
        return pd.DataFrame(
            {
                "o_orderkey": pd.Series(dtype="int64"),
                "n_items": pd.Series(dtype="int64"),
                "total_cents": pd.Series(dtype="int64"),
                "sum_ext_cents": pd.Series(dtype="int64"),
                "diff_cents": pd.Series(dtype="int64"),
            }
        )
    agg = (
        right.groupby("l_orderkey", as_index=False)
        .agg(n_items=("ext_cents", "size"), sum_ext_cents=("ext_cents", "sum"))
        if len(right)
        # explicit int64 dtypes like the empty-left branch: bare []
        # columns default to object/float, and merging an int64 key
        # against an object column is fragile across pandas versions
        # (ADVICE r8; branch unreachable on TPC-H data)
        else pd.DataFrame(
            {
                "l_orderkey": pd.Series(dtype="int64"),
                "n_items": pd.Series(dtype="int64"),
                "sum_ext_cents": pd.Series(dtype="int64"),
            }
        )
    )
    out = left.merge(
        agg, how="left", left_on="o_orderkey", right_on="l_orderkey"
    )
    out["n_items"] = out["n_items"].fillna(0).astype("int64")
    out["sum_ext_cents"] = out["sum_ext_cents"].fillna(0).astype("int64")
    out["diff_cents"] = out["total_cents"] - out["sum_ext_cents"]
    return out[["o_orderkey", "n_items", "total_cents", "sum_ext_cents", "diff_cents"]]


@query(
    "x_udx_cogrouped_pandas",
    category="udx",
    oracle=(
        "WITH li AS (SELECT l_orderkey, "
        "  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "    AS ext_cents FROM lineitem), "
        "ag AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items, "
        "  CAST(SUM(ext_cents) AS BIGINT) AS sum_ext_cents FROM li GROUP BY 1) "
        "SELECT o.o_orderkey, COALESCE(ag.n_items, 0) AS n_items, "
        "CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "  AS total_cents, "
        "COALESCE(ag.sum_ext_cents, 0) AS sum_ext_cents, "
        "CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "  - COALESCE(ag.sum_ext_cents, 0) AS diff_cents "
        "FROM orders o LEFT JOIN ag ON o.o_orderkey = ag.l_orderkey"
    ),
)
def udx_cogrouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last un-demonstrated pandas-interchange surface:
    ``groupBy().cogroup().applyInPandas`` — two DataFrames co-shuffled
    on one key, each cogroup handed to pandas as a PAIR of frames (the
    API for per-key reconciliation/merge logic that needs both sides
    materialized, e.g. custom as-of merges or ledger checks).  Here:
    order-header total vs per-item sum, the classic two-table audit.

    Exactness: money converts to integer cents JVM-side (DECIMAL cast
    BEFORE Arrow transfer — pandas float arithmetic never touches a
    price), so the cents columns hash-check exactly; the same rule as
    every decimal-sandwich aggregate.

    Scale shape: the cogroup key is a 256-way HASH BUCKET of the
    order key, not the raw key — applyInPandas invokes python once per
    cogroup, so per-order keying would pay 150k interpreter calls at
    sf0.1 (measured: minutes) while bucket keying pays 256 vectorized
    ones (sub-second) for the same co-shuffle cost.  That is the
    general rule for this API at 100 TB: cogroup on a key exactly
    coarse enough that pandas amortizes, never the natural entity key.
    The declarative LEFT JOIN + aggregate (the oracle's shape) is what
    you ship when the logic fits SQL; cogroup earns its place when it
    doesn't, and this key proves the plumbing under the hash check
    either way.  Task width comes from ``functions.pystage``, sized
    from the bytes of both inputs: one task and no co-shuffle for a
    small input, else one hash exchange on ``bkt`` per side."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("total_cents"),
        F.pmod("o_orderkey", F.lit(256)).alias("bkt"),
    )
    items = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("ext_cents"),
        F.pmod("l_orderkey", F.lit(256)).alias("bkt"),
    )
    width = python_stage_width(spark, sf_dir, "orders", "lineitem")
    return (
        to_width(orders, width, "bkt")
        .groupBy("bkt")
        .cogroup(to_width(items, width, "bkt").groupBy("bkt"))
        .applyInPandas(
            _reconcile_cogroups,
            schema=(
                "o_orderkey long, n_items long, total_cents long, "
                "sum_ext_cents long, diff_cents long"
            ),
        )
    )


def _arrow_tokenstats(batches):
    """mapInArrow worker: pyarrow RecordBatches in, RecordBatches out —
    no pandas materialization at all.  Token and char counts via
    arrow-native compute kernels (vectorized C++, zero-copy from the
    JVM's Arrow buffers)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        text = batch.column("text")
        toks = pc.split_pattern(text, " ")
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(pc.list_value_length(toks), pa.int64()),
            ],
            names=["doc_id", "n_chars", "n_tokens"],
        )


@query(
    "x_udx_map_in_arrow",
    category="udx",
    oracle=(
        "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents"
    ),
)
def udx_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.mapInArrow`` — the rawest Python interchange surface
    (pyarrow RecordBatch in/out, no pandas conversion): token/char
    stats via arrow-native compute kernels.  Completes the UDX family's
    coverage of every Python execution path Spark 4 offers: vectorized
    scalar pandas UDF, grouped applyInPandas, cogrouped applyInPandas,
    mapInPandas (multimodal keys), Python UDTF, Arrow-optimized Python
    UDF, and now raw Arrow batches.

    When to use which: mapInArrow skips the pandas materialization tax
    entirely — right when the work is itself Arrow-kernel-shaped
    (string ops, casts, list lengths) or feeds an Arrow-native library
    directly; pandas variants win when the logic needs DataFrame
    semantics.  Either way the batch boundary keeps transfer
    vectorized and the plan stays one Python stage, no shuffle.

    (The built-in F.length/F.size would of course express THIS query
    JVM-side — the key exists to prove the interchange surface under
    the same hash check as everything else, the x_udf_arrow rule.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _arrow_tokenstats, schema="doc_id long, n_chars long, n_tokens long"
    )


def _arrow_group_stats(table):
    """applyInArrow worker: one pyarrow Table per group; aggregate with
    arrow compute kernels and return a 1-row Table.  Quantity arrives
    as exact integer CENTI-UNITS (decimal-cast JVM-side), so the sum is
    exact int64 — the same portability rule as every pandas worker."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pa.Table.from_pydict(
        {
            "l_returnflag": [table.column("l_returnflag")[0].as_py()],
            "n": [table.num_rows],
            "sum_qty_c": [pc.sum(table.column("qty_c")).as_py() or 0],
            "max_price_c": [pc.max(table.column("price_c")).as_py() or 0],
        }
    )


@query(
    "x_udx_apply_in_arrow",
    category="udx",
    oracle=(
        "SELECT l_returnflag, COUNT(*) AS n, "
        "CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS sum_qty_c, "
        "CAST(MAX(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "  AS BIGINT) AS max_price_c "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def udx_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInArrow`` — the grouped-map sibling of
    mapInArrow: each group arrives as ONE pyarrow Table (no pandas
    conversion) and is reduced with arrow compute kernels.  The
    arrow-native mirror of udaf_grouped_pandas, closing the grouped
    half of the Arrow interchange surface.

    Scale note: like applyInPandas, the WHOLE group materializes on one
    executor — correct for bounded groups (3 flags here); unbounded
    groups re-key to hash buckets first (the x_udx_cogrouped_pandas
    rule).  Money/quantity converts to exact integer centi-units
    JVM-side before the Arrow hop, so the output hash-checks."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("qty_c"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
    )
    return (
        to_width(li, python_stage_width(spark, sf_dir, "lineitem"), "l_returnflag")
        .groupBy("l_returnflag")
        .applyInArrow(
            _arrow_group_stats,
            schema="l_returnflag string, n long, sum_qty_c long, max_price_c long",
        )
    )
