"""Declarative data-quality constraint checks (the Deequ/dbt-test
shape): each check is one aggregate over the table — uniqueness, null
ratio, value range, accepted values, referential integrity — emitted
as a uniform (rule, metric, passed) report row.

Scale: every check is a partial-aggregated scan (the uniqueness check
is a two-phase exact distinct; the FK check is one anti-join whose
parent side broadcasts when dim-sized).  A report over N checks on
the same table still scans once per check — at 100 TB batch the
same-table checks into one pass with multiple conditional aggregates
(the ``dq_report`` docstring shows the pattern); separate passes are
kept here because each check row is independently oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _row(rule: str, metric, threshold: float = 0.0):
    """(rule, metric, passed) projection over a one-row aggregate."""
    m = F.round(metric, 6)
    return [
        F.lit(rule).alias("rule"),
        m.alias("metric"),
        (m <= threshold).alias("passed"),
    ]


def unique_check(df: DataFrame, cols: list[str], rule: str) -> DataFrame:
    """metric = duplicate-row ratio over ``cols`` (0 ⇔ key is unique)."""
    return df.agg(
        *_row(
            rule,
            (F.count("*") - F.countDistinct(*cols)) / F.count("*"),
        )
    )


def null_check(df: DataFrame, col: str, rule: str) -> DataFrame:
    """metric = NULL fraction of ``col``."""
    return df.agg(
        *_row(rule, (F.count("*") - F.count(col)) / F.count("*"))
    )


def range_check(
    df: DataFrame, col: str, lo, hi, rule: str
) -> DataFrame:
    """metric = fraction of non-NULL values outside [lo, hi]."""
    viol = F.sum(
        ((F.col(col) < lo) | (F.col(col) > hi)).cast("long")
    )
    return df.agg(*_row(rule, F.coalesce(viol, F.lit(0)) / F.count("*")))


def accepted_values_check(
    df: DataFrame, col: str, values: list, rule: str
) -> DataFrame:
    """metric = fraction of rows whose ``col`` is outside ``values``
    (NULL counts as a violation)."""
    ok = F.col(col).isin(values)
    return df.agg(
        *_row(
            rule,
            F.sum((~F.coalesce(ok, F.lit(False))).cast("long"))
            / F.count("*"),
        )
    )


def fk_check(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    rule: str,
) -> DataFrame:
    """metric = fraction of child rows with no matching parent — one
    left join against the distinct parent keys (broadcast when
    dim-sized) and one conditional aggregate; no separate count
    action."""
    keys = (
        parent.select(F.col(parent_key).alias(child_key))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = child.select(child_key).join(keys, on=child_key, how="left")
    return joined.agg(
        *_row(
            rule,
            F.sum(F.col("_hit").isNull().cast("long")) / F.count("*"),
        )
    )


def dq_report(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check frames into the report.  For many
    checks on ONE table, fuse instead:
    ``df.agg(*row1, *row2, ...)`` then ``stack()`` — one scan total.
    """
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# ANALYZE-style column profiling
# ---------------------------------------------------------------------------

def profile_table(df: DataFrame) -> DataFrame:
    """One row of column statistics per column of ``df`` — the ANALYZE
    TABLE / cost-based-optimizer input (row count, null count, exact distinct
    count, numeric min/max, string length sum), computed in a SINGLE
    scan: all per-column aggregates go into one ``agg`` and the flat
    result unpivots driver-side (the aggregate row is O(columns), so
    the "unpivot" is literally building tiny literals — no second
    job over data).

    Type handling keeps the output schema uniform AND cross-engine
    exact: numeric min/max are cast to double (timestamps via
    ``unix_micros`` — epoch-µs < 2^53, exact in double; doubles
    rounded to 6 dp), strings report ``sum_len`` instead of min/max.

    Scale: one pass; the multiple exact ``countDistinct``s expand the
    aggregate (one Expand projection per distinct column) — the
    documented swap at 10^12 rows is ``approx_count_distinct`` per
    column, which collapses the expansion into mergeable HLL sketches.
    """
    cols = df.columns
    kinds = dict(df.dtypes)
    aggs = [F.count("*").alias("_rows")]
    for c in cols:
        k = kinds[c]
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__ndv"))
        if k in ("timestamp", "timestamp_ntz"):
            # ntz→timestamp is exact under the UTC session TZ the
            # contract mandates; unix_micros < 2^53 stays double-exact
            num = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        elif k in ("bigint", "int", "smallint", "tinyint"):
            num = F.col(c).cast("double")
        elif k == "double" or k == "float":
            num = F.round(F.col(c), 6)
        else:
            num = F.lit(None).cast("double")
        aggs.append(F.min(num).alias(f"{c}__min"))
        aggs.append(F.max(num).alias(f"{c}__max"))
        slen = (
            F.sum(F.length(F.col(c)).cast("long"))
            if k == "string"
            else F.lit(None).cast("long")
        )
        aggs.append(slen.alias(f"{c}__sumlen"))
    flat = df.agg(*aggs)
    row = flat.first()
    spark = df.sparkSession
    out = [
        (
            c,
            row["_rows"],
            row[f"{c}__nulls"],
            row[f"{c}__ndv"],
            row[f"{c}__min"],
            row[f"{c}__max"],
            row[f"{c}__sumlen"],
        )
        for c in cols
    ]
    return spark.createDataFrame(
        out,
        "col_name string, n_rows bigint, n_nulls bigint, n_distinct bigint,"
        " min_num double, max_num double, sum_len bigint",
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    n_buckets: int = 1 << 14,
) -> DataFrame:
    """Checksum-based table reconciliation — verify two huge tables
    (replica vs primary, migrated vs source, re-route vs original) are
    row-equal without shipping either one: the anti-entropy pattern.

    Stage 1 (metadata-sized): every row hashes into one of
    ``n_buckets`` key buckets; per bucket each side aggregates
    (row_count, commutative sum of a 60-bit row digest).  Comparing the
    two bucket summaries costs a join of 2·n_buckets rows — for equal
    tables the whole verification is two scans plus a tiny exchange,
    regardless of table size.

    Stage 2 (proportional to the damage, not the table): rows are
    re-examined ONLY inside buckets whose summaries disagree — a
    semi-join against the mismatched-bucket set, then a full-outer join
    on the key within those buckets, classifying each key as
    ``only_left`` / ``only_right`` / ``changed`` by typed column
    comparison (null-safe), never by string formatting.

    Returns (key_cols..., diff_kind).  At 10^12 rows with k corrupted
    buckets, stage 2 reads ~k/n_buckets of each table — raise
    ``n_buckets`` until a bucket fits comfortably in one task."""
    from gclog_parser_spark.operators.dedup import md5_long

    if compare_cols is None:
        compare_cols = [
            c for c in left.columns if c not in key_cols
        ]
    key_str = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    # digest covers key + compared values; \x1e separates fields and a
    # null sentinel keeps (NULL,'x') distinct from ('x',NULL)
    row_parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")).alias(c)
        for c in key_cols + compare_cols
    ]
    row_str = F.concat_ws("\x1e", *row_parts)

    def summarize(df):
        # commutative bucket fingerprint that can NEVER overflow under
        # ANSI mode: bit_xor of the 60-bit digest plus a 32-bit modular
        # sum (sum bound: bucket_rows·2^32 < 2^63 ⇒ buckets of up to
        # 2^31 rows — raise n_buckets long before that).  XOR alone
        # would let a duplicated corrupt row cancel itself; the pair is
        # the standard anti-entropy fingerprint.
        return (
            df.select(
                (md5_long(key_str) % n_buckets).alias("bucket"),
                md5_long(row_str).alias("digest"),
            )
            .groupBy("bucket")
            .agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(digest)").alias("xor_digest"),
                F.sum(F.col("digest") % F.lit(1 << 32)).alias(
                    "sum_digest32"
                ),
            )
        )

    la, rb = summarize(left).alias("l"), summarize(right).alias("r")
    bad = (
        la.join(rb, F.col("l.bucket") == F.col("r.bucket"), "full_outer")
        .where(
            ~(
                F.col("l.n").eqNullSafe(F.col("r.n"))
                & F.col("l.xor_digest").eqNullSafe(F.col("r.xor_digest"))
                & F.col("l.sum_digest32").eqNullSafe(
                    F.col("r.sum_digest32")
                )
            )
        )
        .select(
            F.coalesce(F.col("l.bucket"), F.col("r.bucket")).alias(
                "bucket"
            )
        )
    )
    # the mismatch set feeds BOTH stage-2 semi-joins: truncate lineage
    # so the two stage-1 summary scans run exactly once (≤ n_buckets
    # rows held, same pattern as connected_components' round state)
    bad = bad.localCheckpoint()

    def in_bad(df):
        return (
            df.withColumn("bucket", md5_long(key_str) % n_buckets)
            .join(F.broadcast(bad), "bucket", "left_semi")
            .drop("bucket")
        )

    a, b = in_bad(left).alias("a"), in_bad(right).alias("b")
    key_eq = None
    for c in key_cols:
        e = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        key_eq = e if key_eq is None else key_eq & e
    changed = None
    for c in compare_cols:
        e = ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        changed = e if changed is None else changed | e
    kind = (
        F.when(F.col(f"b.{key_cols[0]}").isNull()
               & F.col(f"a.{key_cols[0]}").isNotNull(), "only_left")
        .when(F.col(f"a.{key_cols[0]}").isNull(), "only_right")
        .when(changed, "changed")
    )
    return (
        a.join(b, key_eq, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"a.{c}"), F.col(f"b.{c}")).alias(c)
                for c in key_cols
            ],
            kind.alias("diff_kind"),
        )
        .where(F.col("diff_kind").isNotNull())
    )


def embedding_checks(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Embedding-corpus validation — the gate a pipeline runs BEFORE
    LSH bucketing / ANN indexing (``lsh_buckets`` fails EMPTY on a
    width mismatch by design; this check is where the mismatch gets
    NAMED).  Five (rule, metric, passed) rows over the ``embedding``
    column from ONE conditional-aggregate scan (the fused same-table
    pattern from :func:`dq_report`'s docstring), metric = violating
    fraction:

    * ``emb_vector_not_null`` — NULL embedding cells
    * ``emb_dim_consistent``  — non-NULL vectors with ``size != dim``
    * ``emb_no_null_components`` — vectors containing a NULL element
    * ``emb_components_finite`` — vectors containing NaN or ±Inf
    * ``emb_no_zero_vectors`` — all-zero vectors (cosine-undefined;
      scored NULL downstream, but a corpus full of them is a broken
      encoder)
    """
    e = F.col("embedding")
    inf = F.lit(float("inf"))
    n = F.count("*")

    def frac(cond):
        return F.round(
            F.coalesce(
                F.sum(F.coalesce(cond, F.lit(False)).cast("long")),
                F.lit(0),
            )
            / n,
            6,
        )

    agg = emb.agg(
        frac(e.isNull()).alias("m_null_vec"),
        frac(e.isNotNull() & (F.size(e) != dim)).alias("m_wrong_dim"),
        frac(F.exists(e, lambda x: x.isNull())).alias("m_null_comp"),
        frac(
            F.exists(e, lambda x: F.isnan(x) | (F.abs(x) == inf))
        ).alias("m_nonfinite"),
        frac(
            F.forall(e, lambda x: x == 0)
        ).alias("m_zero_norm"),
    )
    stacked = agg.select(
        F.stack(
            F.lit(5),
            F.lit("emb_vector_not_null"), F.col("m_null_vec"),
            F.lit("emb_dim_consistent"), F.col("m_wrong_dim"),
            F.lit("emb_no_null_components"), F.col("m_null_comp"),
            F.lit("emb_components_finite"), F.col("m_nonfinite"),
            F.lit("emb_no_zero_vectors"), F.col("m_zero_norm"),
        ).alias("rule", "metric")
    )
    return stacked.select(
        "rule", "metric", (F.col("metric") <= 0.0).alias("passed")
    )
