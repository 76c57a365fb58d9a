package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PageRank over an edge list (Page et al. 1999) — the
  * link-graph quality signal every large crawl-curation stack computes
  * (CommonCrawl host ranks, CCNet-descendant URL weighting): documents
  * from well-referenced sources get a prior that feeds mixture weights
  * and quality gates, exactly like the LM/fastText scores this engine
  * already produces.
  *
  * Semantics (deterministic by construction, so any engine reproduces the
  * ranks bit-for-bit):
  *
  *   - edges are DISTINCT (src, dst) pairs; multi-edges collapse (a page
  *     linking twice is one link — the classic formulation);
  *   - r₀(u) = 1.0 for every node (the unnormalized variant: ranks sum
  *     to ~N instead of 1, avoiding a cross-engine N-division);
  *   - per iteration: every node sends r(u)/out_deg(u) along each
  *     out-edge, and r'(v) = base + damping · Σ incoming. `base` is the
  *     caller's literal (pass 0.15 with damping 0.85 — computing 1−d in
  *     binary would NOT equal the decimal literal either engine parses);
  *   - dangling nodes (no out-edges) leak their mass — the standard
  *     simplified variant; with the unnormalized start this only damps
  *     totals, never reorders the walk's fixpoint direction;
  *   - fixed iteration count, NOT convergence-tested: a convergence test
  *     compares floats across engines; a fixed k compares plans.
  *
  * Cross-engine exactness is the engine's decimal-accumulator discipline
  * (graft.queries.Q.dsum): each contribution r/deg is ONE IEEE divide,
  * rounded to `scale` dp (floor(x·10ⁿ+0.5)/10ⁿ — single IEEE ops), cast
  * to DECIMAL(30,scale) so the per-node SUM is exact integer arithmetic
  * (order-independent — Spark and DuckDB reduce in different orders), and
  * the new rank is two more IEEE ops (base + damping·s) on the
  * deterministically-converted total. Numerators stay < 2⁵³ at any
  * realistic rank magnitude, so the decimal→double conversion is also
  * exact.
  *
  * 100 TB posture: the adjacency (edge-sized, the big side) is joined
  * with its out-degree ONCE, repartitioned on src, and persisted — every
  * iteration then shuffles only the NODE-sized rank frame to the
  * adjacency's partitioning, and the contribution aggregation combines
  * map-side (decimal sums are associative) so the per-iteration exchange
  * carries ≤ distinct-dst rows per partition, not edge rows. Lineage is
  * truncated per round ([[graft.Materialize.truncate]]) — iterative
  * plans otherwise grow exponentially and re-execute every prior round.
  *
  * Reference scope note: the reference toolkit has no graph module; this
  * is part of the training-data-pipeline surface (source-quality priors),
  * built on the public algorithm.
  */
object PageRank {

  /** Ranks after `iterations` rounds: one row per node, columns
    * (`node` long, `rank` double, `scale`-dp). */
  /** [[ranks]] with the teleport restricted to a SEED set — personalized
    * PageRank (the seed-expansion curation pattern: start from trusted
    * domains/documents, let the walk discover what they endorse): seeds
    * start at r₀ = 1 and receive the `base` teleport each round;
    * non-seeds start at 0 and earn rank only through in-links. Seeds
    * absent from the graph are ignored. */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: DataFrame, seedCol: String,
                        iterations: Int = 3, damping: Double = 0.85,
                        base: Double = 0.15, scale: Int = 8,
                        checkpoint: Boolean = true): DataFrame =
    run(edges, srcCol, dstCol, iterations, damping, base, scale, checkpoint,
      Some(seeds.select(col(seedCol).cast("long").as("node"))
        .where(col("node").isNotNull).distinct()))

  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 3, damping: Double = 0.85,
            base: Double = 0.15, scale: Int = 8,
            checkpoint: Boolean = true): DataFrame =
    run(edges, srcCol, dstCol, iterations, damping, base, scale, checkpoint,
      None)

  private def run(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int, damping: Double,
                  base: Double, scale: Int,
                  checkpoint: Boolean,
                  seedNodes: Option[DataFrame]): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    require(base > 0.0 && base < 1.0, s"base must be in (0,1), got $base")
    require(scale >= 4 && scale <= 10, s"scale must be in [4,10], got $scale")

    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

    // Adjacency with out-degree, partitioned ONCE on the join key and
    // persisted: the per-iteration join re-shuffles only the rank side.
    val deg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val adj = e.join(deg, "src")
      .repartition(col("src"))
      .persist()

    val nodesPlain = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    // _seed marks teleport targets; the uniform walk is "all seeds".
    val nodes = (seedNodes match {
      case Some(sn) => nodesPlain
        .join(sn.withColumn("_seed", lit(true)), Seq("node"), "left")
        .na.fill(value = false, cols = Seq("_seed"))
      case None => nodesPlain.withColumn("_seed", lit(true))
    }).persist()

    var r = nodes.select(col("node"),
      when(col("_seed"), lit(1.0)).otherwise(lit(0.0)).as("rank"))
    var prev: Option[DataFrame] = None
    (1 to iterations).foreach { _ =>
      val contrib = adj
        .join(r.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          graft.Num.dround(col("rank") / col("out_deg"), scale)
            .cast(DecimalType(30, scale)).as("c"))
      val incoming = contrib.groupBy("dst").agg(sum("c").as("s"))
      val iterated =
        nodes.join(incoming, nodes("node") === incoming("dst"), "left")
          .select(col("node"),
            graft.Num.dround(
              when(col("_seed"), lit(base)).otherwise(lit(0.0))
                + lit(damping) * coalesce(col("s").cast("double"), lit(0.0)),
              scale).as("rank"))
      // checkpoint=false keeps the lazy iteration plan visible (plan
      // pins, tiny graphs); real runs MUST truncate or the plan re-runs
      // every prior round.
      val next = if (checkpoint) graft.Materialize.truncate(iterated) else iterated
      // release the prior round once its successor is eagerly
      // checkpointed: unpersist() alone is a no-op on a checkpoint, so a
      // k-iteration walk would otherwise hold k node-frames
      if (checkpoint) prev.foreach(graft.Materialize.release)
      prev = Some(next)
      r = next
    }
    adj.unpersist()
    nodes.unpersist()
    r
  }

  /** DuckDB mirror of the per-edge contribution fed to the exact sum. */
  def sqlContrib(rank: String, outDeg: String, scale: Int): String =
    s"CAST(floor(($rank / $outDeg) * 1e$scale + 0.5) / 1e$scale AS DECIMAL(30,$scale))"
}
