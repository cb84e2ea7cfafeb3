package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the step that turns near-duplicate PAIRS into duplicate CLUSTERS (each
  * document labeled with the smallest doc id of its component, which is the
  * canonical "keeper").
  *
  * Algorithm: every node starts labeled with itself; each round every node
  * takes the min of its own label and its neighbors' labels; stop when no
  * label changes. Converges in O(diameter) rounds — near-dup clusters are
  * tiny cliques, so 2–3 rounds in practice. Each round is one shuffle on the
  * node id (the same plan GraphX's CC lowers to, without the RDD detour);
  * `localCheckpoint` truncates the growing lineage so round N+1 does not
  * re-execute rounds 1..N.
  */
object ConnectedComponents {

  /** @param edges  (a, b) undirected pairs, ids as longs
    * @param nodes  optional (id) universe; nodes absent from edges become
    *               singleton components
    * @param smallGraphThreshold  edge count at or below which the component
    *        labels are computed with a driver-side union-find over the
    *        (bounded) collected edge list instead of the iterative join loop.
    *        Near-dup graphs are usually tiny relative to the corpus — a few
    *        hundred edges for thousands of documents — and each distributed
    *        round costs a fixed multi-job latency; the hybrid keeps the
    *        distributed path for genuinely large graphs.
    * @return (id, component) — component = min id reachable
    */
  def run(
      edges: DataFrame,
      nodes: DataFrame,
      idCol: String = "id",
      maxIter: Int = 20,
      smallGraphThreshold: Long = 1000000L
  ): DataFrame = {
    val aCol = edges.columns(0)
    val bCol = edges.columns(1)

    val pairList =
      if (smallGraphThreshold > 0) {
        val capped = edges
          .select(col(aCol).cast("long"), col(bCol).cast("long"))
          .limit(math.min(smallGraphThreshold + 1, Int.MaxValue.toLong).toInt)
          .collect()
        if (capped.length <= smallGraphThreshold) Some(capped) else None
      } else None

    pairList match {
      case Some(pairs) =>
        // driver-side union-find with path compression, min-id roots
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val next = parent.getOrElse(c, c); parent(c) = r; c = next
          }
          r
        }
        def union(a: Long, b: Long): Unit = {
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        pairs.foreach(r => union(r.getLong(0), r.getLong(1)))
        val labels = pairs
          .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
          .distinct
          .map(x => (x, find(x)))
        val spark = nodes.sparkSession
        import spark.implicits._
        val labelDf = labels.toSeq.toDF("id", "_cc_component")
        return nodes
          .select(col(idCol).as("id"))
          .distinct()
          .join(broadcast(labelDf), Seq("id"), "left")
          .select(
            col("id"),
            coalesce(col("_cc_component"), col("id")).as("component")
          )
      case None => // fall through to the distributed loop
    }
    // symmetric neighbor list
    val sym = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      // pin, loop lineage: every round joins sym; no round re-derives it
      .localCheckpoint()

    // Iterate only over nodes that touch an edge — in dedup workloads that
    // is a small fraction of the corpus; everything else is a singleton
    // component by definition and is attached in one final join.
    var labels = sym
      .select(col("src").as("id"))
      .distinct()
      .withColumn("component", col("id"))
      // pin, loop lineage: round 1's labels, as each round's `updated` below
      .localCheckpoint()

    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // neighbor's current label, delivered to each node
      val neighborLabels = sym
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("component"))
      val propagated = labels
        .select(col("id"), col("component"))
        .union(neighborLabels)
        .groupBy("id")
        .agg(min("component").as("component"))
      // pointer jumping: component <- component's own label. Together with
      // neighbor propagation this gives O(log diameter) convergence (path
      // doubling), not O(diameter).
      val updated = propagated
        .join(
          propagated.select(
            col("id").as("component"),
            col("component").as("jumped")
          ),
          Seq("component"),
          "left"
        )
        .select(
          col("id"),
          coalesce(least(col("component"), col("jumped")), col("component"))
            .as("component")
        )
        // pin, loop lineage: round N+1 must not re-run rounds 1..N
        .localCheckpoint()
      changed = updated
        .join(labels.withColumnRenamed("component", "old"), "id")
        .filter(col("component") =!= col("old"))
        .count()
      labels = updated
      iter += 1
    }
    nodes
      .select(col(idCol).as("id"))
      .distinct()
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
