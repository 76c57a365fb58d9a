package graft

import graft.sim.Ivf
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** 3 well-separated direction clusters in R^8, 10 vectors each. */
  private def clustered = (0 until 30).map { i =>
    val c = i / 10 // cluster
    val base = Array.tabulate(8)(d => if (d % 3 == c) 10.0f else 0.1f)
    val jitter = Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat * 0.05f)
    (i.toLong, base.zip(jitter).map { case (a, b) => a + b })
  }

  test("train partitions well-separated clusters and topK finds self first") {
    val df = clustered.toDF("vec_id", "embedding")
    val index = Ivf.train(df, "vec_id", "embedding", k = 3, iters = 4)
    assert(index.numCells == 3)
    // every cluster of 10 lands in one cell
    val cells = index.indexed.groupBy("_gf_cid").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(cells == Seq(10L, 10L, 10L))

    val top = Ivf.topK(index, df.filter(col("vec_id") === 7L),
      "vec_id", "embedding", k = 3, nprobe = 1)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 7L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
    // nprobe=1: all results from the query's own cluster (ids 0-9)
    assert(top.forall(_.getAs[Long]("neighbor_id") < 10L))
  }

  test("train is bit-identical under different partition layouts (r15)") {
    // the Lloyd means now accumulate exact quantized longs (Num.qmean) —
    // a multi-split embeddings scan must train the identical index
    val df = clustered.toDF("vec_id", "embedding")
    def cellsOf(parts: Int): Seq[(Long, Seq[Long])] = {
      val idx = Ivf.train(df.repartition(parts), "vec_id", "embedding",
        k = 3, iters = 4)
      val out = idx.cells.collect().map(r =>
        r.getAs[Long]("_gf_cid") ->
          r.getSeq[Float](r.fieldIndex("_gf_cv"))
            .map(f => java.lang.Float.floatToIntBits(f).toLong).toSeq)
        .sortBy(_._1).toSeq
      idx.release()
      out
    }
    assert(cellsOf(1) == cellsOf(5),
      "trained fine centroids moved with the scan layout")
  }

  test("nprobe widens recall beyond the first cluster") {
    val df = clustered.toDF("vec_id", "embedding")
    val index = Ivf.train(df, "vec_id", "embedding", k = 3, iters = 4)
    val narrow = Ivf.topK(index, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 30, nprobe = 1).count()
    val wide = Ivf.topK(index, df.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 30, nprobe = 3).count()
    assert(narrow == 10 && wide == 30)
  }

  test("empty clusters keep a centroid (no crash, nothing lost)") {
    // k larger than the corpus structure supports: quotas cap at the cell
    // population, empty fine cells keep their previous centroid.
    val df = clustered.take(10).toDF("vec_id", "embedding")
    val index = Ivf.train(df, "vec_id", "embedding", k = 6, iters = 2)
    assert(index.numCells >= 1 && index.numCells <= 6)
    assert(index.indexed.count() == 10)
  }

  test("plan pin: assignment is a join + min-aggregate, no K-literal projection") {
    // `indexed` comes back pinned (a leaf plan), so the assignment plan is
    // read from the execution that materialized it during train: the one
    // whose plan reads the final `cells` leaf
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
    def leafRdds(p: LogicalPlan) = p.collect { case lr: LogicalRDD => lr.rdd.id }
    def planOf(k: Int): LogicalPlan = {
      val df = clustered.toDF("vec_id", "embedding")
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe): Unit
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val index = Ivf.train(df, "vec_id", "embedding", k = k, iters = 1)
        val cellsRdd = leafRdds(index.cells.queryExecution.analyzed)
        assert(cellsRdd.size == 1)
        def assignment = seen.toArray(Array.empty[QueryExecution]).find { qe =>
          qe.analyzed.output.map(_.name) == Seq("_gf_cid", "_gf_id", "_gf_v") &&
            leafRdds(qe.analyzed).contains(cellsRdd.head)
        }
        val deadline = System.nanoTime() + 30000000000L // listener bus is async
        while (assignment.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        val plan = assignment.getOrElse(fail("no execution materialized indexed"))
          .optimizedPlan
        index.release()
        plan
      } finally spark.listenerManager.unregister(listener)
    }
    val plan = planOf(9)
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty, "fine assignment must be a relational join")
    // the old design inlined one vec_cosine PER CENTROID into a single
    // projection (K literals): the count scaled with k. The join design's
    // count depends only on the (fixed) number of Lloyd rounds.
    def nCosine(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      "vec_cosine".r.findAllIn(p.toString.toLowerCase).size
    assert(nCosine(plan) == nCosine(planOf(25)),
      "vec_cosine node count must not scale with k")
    // and no node carries an array literal (centroid constant) anywhere
    val literalArrays = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] => l
      })
    assert(literalArrays.isEmpty, "no centroid literals may appear in the plan")
  }

  test("k <= 0 auto-sizes cells from n/targetCell") {
    val df = clustered.toDF("vec_id", "embedding") // 30 rows
    val index = Ivf.train(df, "vec_id", "embedding", k = 0, iters = 1,
      targetCell = 10L)
    assert(index.numCells == 3, "ceil(30/10) = 3 cells")
    assert(index.indexed.count() == 30)
  }

  test("writeIndex/readIndex round-trips and a probe reads only probed cells' files") {
    val df = clustered.toDF("vec_id", "embedding")
    val trained = Ivf.train(df, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ivf.writeIndex(trained, dir)
    val index = Ivf.readIndex(spark, dir)
    assert(index.numCells == 3)
    assert(index.indexed.count() == 30)

    val q = df.filter(col("vec_id") === 7L)
    val res = Ivf.topK(index, q, "vec_id", "embedding", k = 3, nprobe = 1)
      .orderBy("rank")
    val rows = res.collect()
    assert(rows.head.getAs[Long]("neighbor_id") == 7L)
    // results identical to the in-memory index
    val mem = Ivf.topK(trained, q, "vec_id", "embedding", k = 3, nprobe = 1)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq).toSeq == mem)

    // FILE PRUNING: the indexed-corpus scan must carry a partition filter
    // on _gf_cid and touch only 1 of the 3 cells' files.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE materializes subtrees as QueryStageExec nodes whose inner plans
    // don't traverse via collect — descend explicitly.
    def allScans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect { case f: FileSourceScanExec => Seq(f) }.flatten ++
        p.collect {
          case q: QueryStageExec => allScans(q.plan)
          case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
        }.flatten
    val scans = allScans(res.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("indexed")))
    assert(scans.nonEmpty, "indexed corpus must be a file scan after readIndex")
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "probe must push a static partition filter on _gf_cid")
    val allFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "indexed"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(allFiles == 3, s"repartition-by-cid write should leave 1 file/cell, got $allFiles")
    assert(scan.metrics("numFiles").value == 1,
      s"nprobe=1 must read exactly 1 cell's file, read ${scan.metrics("numFiles").value} of $allFiles")
    trained.release()
  }

  test("topK executes the probe subplan ONCE: rerank side is the collected local relation") {
    val df = clustered.toDF("vec_id", "embedding")
    val index = Ivf.train(df, "vec_id", "embedding", k = 3, iters = 2)
    val res = Ivf.topK(index, df.filter(col("vec_id") === 7L),
      "vec_id", "embedding", k = 3, nprobe = 1)
    val plan = res.queryExecution.optimizedPlan
    // the r6 regression shape: `probes` consumed once by the IN-filter
    // collect and AGAIN as the broadcast join side — two executions of the
    // crossJoin+windows subplan. The fix collects once; the join side must
    // therefore be a LocalRelation of the collected rows, with no window
    // operator left anywhere in the final query.
    val locals = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }
    assert(locals.nonEmpty,
      "rerank side must be the pre-collected probe rows (LocalRelation)")
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size <= 1, // the final top-k ranking window only
      s"probe-subplan windows must not re-execute in the rerank query:\n$plan")
  }

  test("manifest round-trips, and missing/corrupt/mismatched manifests fail loudly") {
    val df = clustered.toDF("vec_id", "embedding")
    val trained = Ivf.train(df, "vec_id", "embedding", k = 3, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-m").toString
    Ivf.writeIndex(trained, dir)

    val index = Ivf.readIndex(spark, dir)
    assert(index.meta.exists(m =>
      m.dim == 8 && m.numCells == 3 && m.metric == "cosine" && m.seed == 42L))

    // wrong-dim query batch: plan-time raise, not VecCosine's silent NULLs
    val badQ = (0 until 3).map(i => (i.toLong, Array.fill(5)(1.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Ivf.topK(index, badQ, "vec_id", "embedding", k = 3, nprobe = 1).collect()
    }
    assert(e1.getMessage.contains("dim"))
    // MIXED batch — correct-dim head row, wrong-dim tail: a head-only
    // check would pass and the wrong-dim queries would silently get NULL
    // cosines; every collected probe row must be validated
    val mixedQ = Seq((0L, Array.fill(8)(1.0f)), (1L, Array.fill(5)(1.0f)))
      .toDF("vec_id", "embedding")
    val eMix = intercept[IllegalArgumentException] {
      Ivf.topK(index, mixedQ, "vec_id", "embedding", k = 3, nprobe = 1).collect()
    }
    assert(eMix.getMessage.contains("5"))

    val mp = java.nio.file.Paths.get(dir, "manifest.json")
    // Hadoop's local FS wrote a .crc sidecar; editing the file behind its
    // back must drop it or every read fails as a checksum error instead of
    // exercising the manifest validation under test.
    val crc = java.nio.file.Paths.get(dir, ".manifest.json.crc")
    def rewrite(content: String): Unit = {
      java.nio.file.Files.write(mp, content.getBytes)
      java.nio.file.Files.deleteIfExists(crc): Unit
    }
    // manifest that does not describe this data (dim mismatch) → open fails
    rewrite("""{"format": "graft-ivf-v1", "dim": 5, "kc": 1, "num_cells": 3,
        |"metric": "cosine", "iters": 2, "seed": 42}""".stripMargin)
    val e2 = intercept[IllegalArgumentException] { Ivf.readIndex(spark, dir) }
    assert(e2.getMessage.contains("inconsistent"))

    // non-cosine metric → open fails (topK would rank with the wrong
    // distance); a SnakeYAML `!!` class-instantiation tag must ALSO fail
    // cleanly — SafeConstructor refuses it instead of deserializing
    rewrite("""{"format": "graft-ivf-v1", "dim": 8, "kc": 1, "num_cells": 3,
        |"metric": "l2", "iters": 2, "seed": 42}""".stripMargin)
    val e5 = intercept[IllegalArgumentException] { Ivf.readIndex(spark, dir) }
    assert(e5.getMessage.contains("metric"))
    rewrite("""{"dim": !!java.lang.Runtime {}, "kc": 1}""")
    val e6 = intercept[IllegalArgumentException] { Ivf.readIndex(spark, dir) }
    assert(e6.getMessage.contains("corrupt"))

    // corrupt manifest → open fails
    rewrite("[1, 2, oops")
    val e3 = intercept[IllegalArgumentException] { Ivf.readIndex(spark, dir) }
    assert(e3.getMessage.contains("corrupt"))

    // missing manifest → open fails (pre-manifest dirs are not silently ok)
    java.nio.file.Files.delete(mp)
    val e4 = intercept[IllegalArgumentException] { Ivf.readIndex(spark, dir) }
    assert(e4.getMessage.contains("manifest"))
    trained.release()
  }

  test("k >= 4096 trains in reasonable time (the k ~ n/targetCell sizing)") {
    // 8192 pseudo-random vectors in R^8; k=4096 targets ~2 vectors/cell.
    // The r4 literal-argmin design could not codegen this (4096 centroid
    // literals in one projection); the two-level join design treats it as
    // a 64-coarse-cell x ~64-sub-centroid equi-join.
    val rnd = new scala.util.Random(11)
    val df = (0 until 8192).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val index = Ivf.train(df, "vec_id", "embedding", k = 4096, iters = 1)
    assert(index.numCells > 2048, s"expected ~4096 cells, got ${index.numCells}")
    assert(index.indexed.count() == 8192)
    // probing still returns exact self-match first
    val top = Ivf.topK(index, df.filter(col("vec_id") === 42L),
      "vec_id", "embedding", k = 3, nprobe = 2)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 42L)
  }

  test("appendToIndex ingests a new batch into a persisted index without retraining") {
    val df = clustered.toDF("vec_id", "embedding")
    val old = df.filter(col("vec_id") < 20L)   // clusters 0 and 1
    val fresh = df.filter(col("vec_id") >= 20L) // cluster 2, unseen ids
    val trained = Ivf.train(old, "vec_id", "embedding", k = 3, iters = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Ivf.writeIndex(trained, dir)
    trained.release()

    val appended = Ivf.appendToIndex(spark, dir, fresh, "vec_id", "embedding")
    assert(appended == 10L)
    val index = Ivf.readIndex(spark, dir)
    assert(index.indexed.count() == 30L)
    // an appended vector finds ITSELF at rank 1 with full probing — the
    // new rows are really in the inverted file, in probe-reachable cells
    val top = Ivf.topK(index, df.filter(col("vec_id") === 25L),
      "vec_id", "embedding", k = 3, nprobe = index.numCells.toInt)
      .orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 25L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
    // appended rows carry the argmin cell of the FROZEN centroids —
    // recomputed here independently with plain driver math
    def toD(s: Seq[Any]): Array[Double] =
      s.map { case f: Float => f.toDouble; case d: Double => d }.toArray
    val cellVecs = index.cells.select("_gf_cid", "_gf_cv").collect()
      .map(r => r.getLong(0) -> toD(r.getSeq[Any](1)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / math.sqrt(na * nb)
    }
    val assignedCids = index.indexed.filter(col("_gf_id") >= 20L)
      .select("_gf_id", "_gf_cid", "_gf_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), toD(r.getSeq[Any](2))))
    assert(assignedCids.length == 10)
    assignedCids.foreach { case (id, cid, v) =>
      val best = cellVecs.map { case (c, cv) => (1.0 - cos(v, cv), c) }.min._2
      assert(cid == best, s"appended id $id in cell $cid, argmin is $best")
    }

    // id collisions refuse BEFORE writing
    val ex = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(spark, dir, fresh, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("re-uses ids"))
    assert(index.indexed.count() == 30L) // nothing was written
    // wrong-dim batch refuses at plan time
    val bad = Seq((99L, Array.fill(4)(0.5f))).toDF("vec_id", "embedding")
    val ex2 = intercept[IllegalArgumentException] {
      Ivf.appendToIndex(spark, dir, bad, "vec_id", "embedding")
    }
    assert(ex2.getMessage.contains("dim"))
  }
}
