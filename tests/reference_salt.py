"""The reference salt layout for the bucket-assignment equivalence tests:
the original all-Spark formulation of ``engine.assign_buckets``.

It sizes each partition value with a ``groupBy`` aggregate over the same
content-pure sample, turns the size into a fan-out with Spark's
``ceil(sum * scale / target)``, and joins the small sizes table back with
a broadcast left join.  The engine sums per task, adds the partial sums
by key and broadcasts only the fanned-out values; both must put every row
in the same bucket."""

from pyspark.sql import functions as F


def assign_buckets_reference(df, plan, n_buckets, target_salt_bytes=16 << 20,
                             salt_sample_fraction=1.0):
    str_cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() in ("string", "binary")
                and f.name in plan.column_names]
    weight = sum((F.length(F.coalesce(F.col(c), F.lit(""))) for c in str_cols[1:]),
                 F.length(F.coalesce(F.col(str_cols[0]), F.lit("")))) \
        if str_cols else F.lit(8) * len(plan.specs)
    pcol = plan.partition_col
    key_hash = F.xxhash64(*[F.col(k) for k in plan.key_cols]) if plan.key_cols \
        else F.xxhash64(*[F.col(c) for c in df.columns])
    if not pcol:
        return df.withColumn("__bucket", F.pmod(key_hash, F.lit(n_buckets)).cast("int"))
    if salt_sample_fraction >= 1.0:
        src = df
    else:
        thresh = int(salt_sample_fraction * 10000)
        src = df.filter(
            F.pmod(F.xxhash64(key_hash, F.lit("saltsample")),
                   F.lit(10000)) < thresh)
    scale = 1.0 / min(max(salt_sample_fraction, 1e-9), 1.0)
    sizes = (src.groupBy(pcol).agg((F.sum(weight) * F.lit(scale)).alias("__bytes"))
             .withColumn("__salt_k",
                         F.greatest(F.lit(1),
                                    F.ceil(F.col("__bytes") / target_salt_bytes))
                         .cast("int"))
             .select(pcol, "__salt_k"))
    return (df.join(F.broadcast(sizes), on=pcol, how="left")
            .withColumn("__salt", F.pmod(key_hash, F.coalesce("__salt_k", F.lit(1))))
            .withColumn("__bucket",
                        F.pmod(F.xxhash64(F.col(pcol), F.col("__salt")),
                               F.lit(n_buckets)).cast("int"))
            .drop("__salt_k", "__salt"))
