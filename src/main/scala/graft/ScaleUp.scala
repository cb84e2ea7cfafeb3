package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence data generator: replicates the sf0.1 test tables `copies`×
  * into disjoint key shards, producing an sf1-equivalent dataset under
  * `target/sf1` for the decade-headroom bench run SURVEY §5 cites.
  *
  * Shape: each copy i offsets every entity key (orderkey, custkey, suppkey,
  * partkey, user_id, doc_id, vec_id) by i × (domain max + 1), so referential
  * integrity and per-key selectivities are preserved — the result behaves
  * like a database with 10× the entities, which is how TPC-H itself scales.
  * Dimension tables nation/region keep their natural size (25/5 rows — they
  * stay broadcast-able at any sf, as in TPC-H). Document texts get a
  * per-copy token suffix so copies are NOT near-duplicates of each other:
  * dedup workloads keep their duplicate-rate character instead of
  * degenerating to everything-matches-everything.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [copies] [tables]
  * (defaults: /root/testdata/sf0.1 target/sf1 10 all; `tables` is a
  * comma-separated subset for disk-bounded probes — e.g. `documents` for
  * the Spark-only fourth-decade pipeline sweep, where full sf300 of every
  * table would not fit the box)
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val tableFilter = args.lift(3).map(_.split(",").toSet)
    def wanted(name: String): Boolean = tableFilter.forall(_.contains(name))
    val spark = BenchSession.builder("32").appName("graft-scaleup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def t(name: String): DataFrame = Tables.t(spark, src, name)
    // Sharded tables repartition to cluster parallelism before the write:
    // the naive single-output-file layout gave every downstream scan ONE
    // input split (an 80 MB file sits under maxPartitionBytes), so scale
    // probes measured a one-task scan against DuckDB's row-group
    // parallelism — a fixture artifact, not an engine property. Real data
    // at these sizes arrives as many files/splits; make the fixture match.
    def write(df: DataFrame, name: String, parts: Int = 1): Unit =
      if (wanted(name))
        (if (parts > 1) df.repartition(parts) else df.coalesce(1))
          .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // one offset base per key domain, shared across tables
    def base(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val orderBase = base(t("orders"), "o_orderkey")
    val custBase = base(t("customer"), "c_custkey")
    val suppBase = base(t("supplier"), "s_suppkey")
    val partBase = base(t("part"), "p_partkey")
    val eventBase = base(t("events"), "event_id")
    val userBase = base(t("events"), "user_id")
    val docBase = base(t("documents"), "doc_id")
    val vecBase = base(t("embeddings"), "vec_id")

    /** `copies` shards of `df`, each key column offset into its own range. */
    def shard(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      // Pre-repartition the SOURCE before the explode: each sf0.1 table is
      // one parquet row group = one input split, so without this the whole
      // xN explode runs as a single map task (measured: the copies=1000
      // lineitem map wrote its ~30 GB shuffle single-threaded for 40+ min;
      // 32-way it is minutes). A tiny shuffle of the un-exploded rows buys
      // full-width parallelism for the expensive part.
      // a generator must be the top-level expression of its column — the
      // long-typed sequence avoids wrapping the explode in a cast
      val exploded = df.repartition(32).withColumn(
        "__copy",
        explode(sequence(lit(0L), lit((copies - 1).toLong)))
      )
      val shifted = offsets.foldLeft(exploded) { case (d, (k, b)) =>
        d.withColumn(k, col(k) + col("__copy") * b)
      }
      shifted.drop("__copy")
    }

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(shard(t("customer"), Map("c_custkey" -> custBase)), "customer", 32)
    write(shard(t("supplier"), Map("s_suppkey" -> suppBase)), "supplier", 32)
    write(shard(t("part"), Map("p_partkey" -> partBase)), "part", 32)
    write(
      shard(t("orders"), Map("o_orderkey" -> orderBase, "o_custkey" -> custBase)),
      "orders",
      32
    )
    write(
      shard(
        t("lineitem"),
        Map(
          "l_orderkey" -> orderBase,
          "l_partkey" -> partBase,
          "l_suppkey" -> suppBase
        )
      ),
      "lineitem",
      32
    )
    write(
      shard(t("events"), Map("event_id" -> eventBase, "user_id" -> userBase)),
      "events",
      32
    )
    // per-copy token suffix (copy 0 keeps the original text) — preserves
    // token counts, run lengths and n-gram structure while keeping shingle
    // sets disjoint across copies
    val docs = shard(t("documents"), Map("doc_id" -> docBase))
      .withColumn("__copy", (col("doc_id") / lit(docBase)).cast("long"))
      .withColumn(
        "text",
        when(col("__copy") === 0, col("text")).otherwise(
          concat_ws(
            " ",
            transform(
              split(col("text"), " "),
              tok => concat(tok, lit("_"), col("__copy"))
            )
          )
        )
      )
      .drop("__copy")
    write(docs, "documents", 32)
    write(shard(t("embeddings"), Map("vec_id" -> vecBase)), "embeddings", 32)

    println(s"wrote ${copies}x of $src to $dst")
    spark.stop()
  }
}
