package graft

import graft.sim.{Ivf, IvfPq, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins [[Materialize]] and the index builds that use it: a pinned frame
  * is a leaf plan holding the same rows, its release is complete, and a
  * released frame recomputes. The build specs feed a deliberately deep
  * lazy corpus — a cached frame over a plan that doubles per step — the
  * shape a curated corpus reaches the trainers in. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  /** 3 direction clusters in R^8, 40 vectors each. */
  private def vectors: DataFrame = (0 until 120).map { i =>
    val c = i % 3
    (i.toLong, Array.tabulate(8)(d =>
      (if (d % 3 == c) 10.0f else 0.1f) + math.sin(i * 8 + d).toFloat * 0.05f))
  }.toDF("vec_id", "embedding")

  /** Same rows; each step self-joins the previous plan, so the plan
    * string doubles per step. Cached, as a caller would. */
  private def deepCorpus(): DataFrame =
    (1 to 6).foldLeft(vectors) { (d, _) =>
      d.join(d.select(col("vec_id")).distinct(), "vec_id")
    }.persist()

  private def planChars(df: DataFrame): Int =
    df.queryExecution.executedPlan.treeString.length

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("pin: same rows behind a leaf plan; rows() is free; release recomputes") {
    val src = vectors.filter(col("vec_id") % 2 === 0)
    val before = persisted
    val p = Materialize.pin(src)
    assert(p.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
    assert(Materialize.rows(p) == 60L)
    val rowsOf = (df: DataFrame) =>
      df.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val expected = rowsOf(src)
    assert(rowsOf(p) == expected)
    assert((persisted -- before).size == 1)
    Materialize.release(p)
    assert(persisted == before, "release must drop the pinned RDD")
    assert(rowsOf(p) == expected, "a released pin must recompute")
    assert(persisted == before)
  }

  test("index builds pin leaf plans whose size does not grow with the input or iters") {
    val corpus = deepCorpus()
    assert(planChars(corpus) > 20000, "fixture is not deep")
    val bound = 2000
    for (iters <- Seq(1, 4)) {
      val ivf = Ivf.train(corpus, "vec_id", "embedding", k = 3, iters = iters)
      val pq = Pq.train(corpus, "vec_id", "embedding", m = 4, ks = 8, iters = iters)
      val built = IvfPq.build(ivf, pq)
      for ((name, df) <- Seq("ivf.cells" -> ivf.cells, "ivf.indexed" -> ivf.indexed,
                             "pq.codes" -> pq.codes, "coCodes" -> built.coCodes))
        assert(planChars(df) < bound,
          s"$name plan is ${planChars(df)} chars at iters=$iters")
      built.release()
    }
    corpus.unpersist(true)
  }

  test("release drops every build RDD, and probes afterwards return the same rows") {
    val corpus = deepCorpus()
    corpus.count()
    val before = persisted
    val ivf = Ivf.train(corpus, "vec_id", "embedding", k = 3, iters = 2)
    val pq = Pq.train(corpus, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    val built = IvfPq.build(ivf, pq)
    val queries = vectors.filter(col("vec_id") < 6)
    def ivfTop() = Ivf.topK(ivf, queries, "vec_id", "embedding", k = 5, nprobe = 1)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    def adcTop() = IvfPq.topK(built, queries, "vec_id", "embedding", k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val (ivfBefore, adcBefore) = (ivfTop(), adcTop())
    assert(ivfBefore.size == 30)
    assert((persisted -- before).nonEmpty)
    built.release()
    assert(persisted == before,
      s"build RDDs still persisted after release: ${persisted -- before}")
    assert(ivfTop() == ivfBefore)
    assert(adcTop() == adcBefore)
    corpus.unpersist(true)
  }

  test("buildResidual pins and releases its frames like build") {
    val corpus = deepCorpus()
    corpus.count()
    val before = persisted
    val ivf = Ivf.train(corpus, "vec_id", "embedding", k = 3, iters = 1)
    val res = IvfPq.buildResidual(ivf, m = 4, ks = 8, iters = 1)
    for (df <- Seq(res.coCodes, res.offsets, res.pq.codes))
      assert(planChars(df) < 2000)
    val queries = vectors.filter(col("vec_id") < 6)
    def top() = IvfPq.topKResidual(res, queries, "vec_id", "embedding", k = 5, nprobe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val first = top()
    res.release()
    assert(persisted == before,
      s"residual build RDDs still persisted after release: ${persisted -- before}")
    assert(top() == first)
    corpus.unpersist(true)
  }
}
