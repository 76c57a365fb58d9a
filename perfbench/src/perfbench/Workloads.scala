package perfbench

import java.io.File

import scala.collection.mutable

import graft.Tables
import graft.audit.{FinalAudit, FinalEditsConfig, HealthScore}
import graft.dedup.{LlmDedup, MinHash}
import graft.drift.Drift
import graft.functions.{GopherSignals, GraftFunctions, LangId, LmScoreRow, TextQuality}
import graft.outliers.{Iqr, Outliers}
import graft.pipeline.{ConfigPipeline, Pipeline}
import graft.profile.Profiler
import graft.quality._
import graft.sim.{Ivf, IvfPq, Pq, Similarity}
import graft.text.{CorpusOps, GopherRules, LangModel, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one pass hands back to the driver. `rows` over `workSeconds`
  * (the whole pass when None) gives the pass's throughput; `opMs` holds
  * the latencies of the workload's unit operations when they are finer
  * than a pass (vector probes). */
final case class PassOut(digest: String, rows: Long, checks: Seq[(String, Boolean)],
                         timings: Seq[(String, Double)] = Nil,
                         workSeconds: Option[Double] = None,
                         opMs: Seq[Double] = Nil)

final case class Ctx(spark: SparkSession, t: Tracer, in: Gen.Inputs, work: String)

/** A kernel case: a cached frame cut from the workload's inputs, the
  * public column function to time over it, and a pass-through baseline. */
final case class Kernel(name: String, frame: DataFrame, expr: Column, baseline: Column)

trait Workload {
  def name: String
  def tables: Seq[String]
  def pass(c: Ctx): PassOut
  /** Untimed checks after the timed loop: (name, value, ok). */
  def finalChecks(c: Ctx): Seq[(String, Double, Boolean)] = Nil
  /** Untimed per-layer counts for the traced run. */
  def traceCounts(c: Ctx): Seq[(String, Double)] = Nil
  def kernels(c: Ctx): Seq[Kernel] = Nil
}

object Workloads {
  val all: Seq[Workload] = Seq(TabularQa, VectorIndex)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

object Digest {
  /** Row count plus an order-independent hash of every row. */
  def frame(df: DataFrame): (Long, String) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(20,0)")),
        lit(0).cast("decimal(30,0)"))).head()
    (r.getLong(0), s"${r.getLong(0)}:${r.get(1)}")
  }

  def rows(rs: Seq[Row]): String = hex(rs.map(_.toString).sorted.mkString("\n"))

  def hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The reference's own surface: profile -> validate -> normalize -> impute
  * -> dedup -> outliers -> final audit -> health score -> drift over a
  * dirty `lineitem`. */
object TabularQa extends Workload {
  val name = "tabular_qa"
  val tables = Seq("lineitem_dirty", "lineitem_clean")

  private val Modes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val NullCols = Seq("l_quantity", "l_extendedprice", "l_shipmode")
  private val RawRules: Seq[Rule] = Seq(
    NotNull("l_quantity"), NotNull("l_extendedprice"),
    InRange("l_quantity", 1, 50), InRange("l_discount", 0, 0.1),
    InSet("l_returnflag", Seq("A", "N", "R")), InSet("l_shipmode", Modes),
    UniqueKey(Keys))
  private val CertRules: Seq[Rule] = Seq(
    NotNull("l_quantity"), NotNull("l_extendedprice"), NotNull("l_shipmode"),
    InSet("l_returnflag", Seq("A", "N", "R", "UNKNOWN")),
    InSet("l_shipmode", Modes.map(_.toLowerCase)),
    ExpectedType("l_quantity", "double"), UniqueKey(Keys))
  private val Edits = FinalEditsConfig(dropColumns = Seq("l_tax"),
    coerceTypes = Map("l_linenumber" -> "long"))
  private val Yaml = """
    |run_id: perfbench_tabular_qa
    |stages:
    |  - module: normalize
    |    standardize_text: [l_shipmode]
    |    value_mappings:
    |      l_returnflag: {X: UNKNOWN, "null": UNKNOWN}
    |  - module: impute
    |    strategies: {l_quantity: median, l_extendedprice: median, l_shipmode: mode}
    |  - module: dedup
    |    subset: [l_orderkey, l_linenumber]
    |    keep: first
    |    tiebreak: [l_partkey]
    |  - module: outliers
    |    detect:
    |      l_extendedprice: {method: iqr, multiplier: 3.0}
    |    handle: {l_extendedprice: clip}
    |""".stripMargin

  def pass(c: Ctx): PassOut = {
    val t = c.t
    val parts = mutable.ArrayBuffer.empty[String]
    def keep(rs: Array[Row]): Array[Row] = { parts += Digest.rows(rs.toSeq); rs }
    val dirty = t.call("tables", "Tables.load") {
      t.materialize(Tables.load(c.spark, c.in.dir, "lineitem_dirty"))
    }
    val clean = t.call("tables", "Tables.load") {
      t.materialize(Tables.load(c.spark, c.in.dir, "lineitem_clean"))
    }
    t.call("profile", "Profiler.schemaProfile") { keep(Profiler.schemaProfile(dirty).collect()) }
    // float moments depend on summation order: timed, not digested
    t.call("profile", "Profiler.describe") { Profiler.describe(dirty).collect() }
    t.call("profile", "Profiler.highCardinality") {
      keep(Profiler.highCardinality(dirty, threshold = 5).collect())
    }
    t.call("profile", "Profiler.duplicateSummary") {
      keep(Profiler.duplicateSummary(dirty, Keys).collect())
    }
    t.call("quality", "Validator.summary") { keep(Validator.summary(dirty, RawRules).collect()) }
    t.call("quality", "Validator.rowCoverage") {
      keep(Validator.rowCoverage(dirty, RawRules).collect())
    }
    val result = t.call("pipeline", "ConfigPipeline.run") {
      if (!t.isTracing) ConfigPipeline.run(dirty, Yaml)
      else {
        // one stage at a time, each materialized inside its module's span
        val stages = ConfigPipeline.parse(Yaml).stages
        val results = mutable.ArrayBuffer.empty[Pipeline.Result]
        val out = stages.foldLeft(dirty) { (df, st) =>
          // stage names are graft's module (layer) names
          t.call(st.name, s"Pipeline.${st.name}") {
            val r = Pipeline.run(df, Seq(st))
            results += r
            t.materialize(r.df)
          }
        }
        Pipeline.Result(out, Map.empty, () => results.foreach(_.release()))
      }
    }
    // the cleaned table has several consumers: cache it once, as a user would
    val cleaned = result.df.persist()
    val (rowsKept, outDigest) = t.call("pipeline", "Pipeline.output") { Digest.frame(cleaned) }
    val edited = t.call("audit", "FinalAudit.applyEdits") {
      val (e, log) = FinalAudit.applyEdits(cleaned, Edits)
      keep(log.collect())
      t.materialize(e)
    }
    t.call("audit", "FinalAudit.certify") { keep(FinalAudit.certify(edited, CertRules).collect()) }
    t.call("audit", "FinalAudit.nullAudit") { keep(FinalAudit.nullAudit(edited, NullCols).collect()) }
    val flagged = t.call("outliers", "Outliers.detect") {
      t.materialize(Outliers.detect(edited, Map("l_extendedprice" -> Iqr(3.0))).flagged)
    }
    val health = t.call("audit", "HealthScore.compute") {
      keep(HealthScore.compute(edited, NullCols, CertRules, Keys, flagged).collect())
    }
    t.call("drift", "Drift.compare") {
      val (schema, numeric) = Drift.compare(clean, edited)
      keep(schema.collect())
      numeric.collect()
    }
    val rowsIn = c.in.rows("lineitem_dirty")
    cleaned.unpersist(true)
    result.release()
    val score = health.head.getAs[Double]("overall_score")
    PassOut(Digest.hex((outDigest +: parts).mkString("|")), rowsIn,
      Seq("health_score_in_0_100" -> (score >= 0 && score <= 100),
        "rows_kept_le_rows_in" -> (rowsKept <= rowsIn)))
  }
}

/** A document corpus into a vector index, and the index's read path.
  * The write path gates the documents (PII redaction, quality / language /
  * compression gates, Gopher rules), drops exact and MinHash near
  * duplicates, trains IVF-PQ on the survivors' embeddings, encodes and
  * writes the index, then gates and appends a second batch. It runs in the
  * first pass, and in every pass of a traced run. Every pass re-opens the
  * index and sends a closed loop of single-vector `topKRerank` probes, the
  * unit operation whose latency and rate the steady passes report. */
object VectorIndex extends Workload {
  val name = "vector_index"
  val tables = Seq("embeddings", "embeddings_append", "queries")

  val Cells = 16
  val SubSpaces = 16
  val Centroids = 16
  val Probes = 6
  val RecallQueries = 16
  val K = 10
  val NProbe = 4
  val Shortlist = 40
  private val GopherCfg = GopherRules.Config(minWords = 10, minStopHits = 2)

  /** (path, rows appended) of the index the read path probes. */
  private var current: Option[(String, Long)] = None

  private def load(c: Ctx, n: String): DataFrame = Tables.load(c.spark, c.in.dir, n)

  /** Redaction and the per-row gates, all public `text` operators. */
  private def gated(t: Tracer, docs: DataFrame): DataFrame = {
    val redacted = t.call("text", "CorpusOps.redact") {
      t.materialize(docs.withColumn("text", CorpusOps.redact(col("text"))))
    }
    val kept = t.call("text", "TextAnalysis.gates") {
      t.materialize(redacted.filter(
        TextAnalysis.qualityScore(col("text")) >= 0.3 &&
          TextAnalysis.languageId(col("text")) === "en" &&
          TextAnalysis.compressionRatio(col("text")) >= 0.42))
    }
    t.call("text", "GopherRules.filterDocs") {
      t.materialize(GopherRules.filterDocs(kept, "text", GopherCfg))
    }
  }

  def pass(c: Ctx): PassOut = {
    val t = c.t
    val timings = mutable.ArrayBuffer.empty[(String, Double)]
    if (current.isEmpty || t.traced) {
      current.foreach(p => Gen.deleteTree(new File(p._1)))
      val path = new File(c.work, s"index-${t.pass}").getPath
      val base = t.call("tables", "Tables.load") { t.materialize(load(c, "embeddings")) }
      val batch = t.call("tables", "Tables.load") { t.materialize(load(c, "embeddings_append")) }
      // curation is lazy untraced, so build_s includes it
      val t0 = System.nanoTime()
      val exact = t.call("dedup", "LlmDedup.exact") {
        t.materialize(LlmDedup.exact(gated(t, base), "text", "vec_id"))
      }
      // the curated corpus feeds both quantizers' training: persist it, as
      // a user would
      val corpus = t.call("dedup", "MinHash.dedup") {
        t.materialize(MinHash.dedup(exact, "text", "vec_id")).persist()
      }
      t.call("sim", "IvfPq.buildAndWrite") {
        val ivf = t.call("sim", "Ivf.train") {
          Ivf.train(corpus, "vec_id", "embedding", k = Cells, iters = 1)
        }
        val pq = t.call("sim", "Pq.train") {
          Pq.train(corpus, "vec_id", "embedding", m = SubSpaces, ks = Centroids, iters = 1)
        }
        val index = t.call("sim", "IvfPq.build") { IvfPq.build(ivf, pq) }
        t.call("sim", "IvfPq.writeIndex") { IvfPq.writeIndex(index, path) }
        index.release()
      }
      corpus.unpersist(blocking = true)
      val t2 = System.nanoTime()
      val appended = t.call("sim", "IvfPq.appendToIndex") {
        IvfPq.appendToIndex(c.spark, path, gated(t, batch), "vec_id", "embedding")
      }
      timings += "build_s" -> (t2 - t0) / 1e9
      timings += "append_s" -> (System.nanoTime() - t2) / 1e9
      current = Some((path, appended))
    }
    val (path, appended) = current.get
    val queries = t.call("tables", "Tables.load") { load(c, "queries").limit(Probes).collect() }
    val index = t.call("sim", "IvfPq.readIndex") { IvfPq.readIndex(c.spark, path) }
    val schema = load(c, "queries").schema
    val probeMs = mutable.ArrayBuffer.empty[Double]
    val hits = queries.map { q =>
      val one = c.spark.createDataFrame(java.util.Arrays.asList(q), schema)
      val p0 = System.nanoTime()
      val res = t.call("sim", "IvfPq.topKRerank") {
        IvfPq.topKRerank(index, one, "vec_id", "embedding", k = K, nprobe = NProbe,
          shortlist = Shortlist).collect()
      }
      probeMs += (System.nanoTime() - p0) / 1e6
      res.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).mkString(",")
    }
    index.release()
    PassOut(Digest.hex(s"$appended|" + hits.mkString("|")), hits.length,
      Seq("appended_le_batch" -> (appended > 0 && appended <= c.in.rows("embeddings_append")),
        "k_hits_per_probe" -> hits.forall(_.split(",").length == K)),
      timings.toSeq, workSeconds = Some(probeMs.sum / 1e3), opMs = probeMs.toSeq)
  }

  /** recall@10 of the timed probe settings against brute force, and the
    * every-cell / full-shortlist probe, which must equal brute force. */
  override def finalChecks(c: Ctx): Seq[(String, Double, Boolean)] = {
    val index = IvfPq.readIndex(c.spark, current.get._1)
    val queries = load(c, "queries").limit(RecallQueries).persist()
    val corpus = c.spark.read.parquet(s"${current.get._1}/ivf/indexed")
      .select(col("_gf_id").as("vec_id"), col("_gf_v").as("embedding"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = K))
    def recall(nprobe: Int, shortlist: Int): Double = {
      val got = pairs(IvfPq.topKRerank(index, queries, "vec_id", "embedding", k = K,
        nprobe = nprobe, shortlist = shortlist))
      (got intersect truth).size.toDouble / truth.size
    }
    val atSettings = recall(NProbe, Shortlist)
    val full = recall(index.ivf.numCells.toInt, corpus.count().toInt)
    queries.unpersist(true)
    index.release()
    Seq(("recall_at_10", atSettings, atSettings > 0),
      ("recall_at_10_all_cells", full, full == 1.0))
  }

  /** LSH waste under MinHash.dedup's defaults (k = 64, 16 bands, 3-shingles,
    * threshold 0.7) on the corpus documents: distinct band-colliding pairs
    * vs confirmed pairs. */
  override def traceCounts(c: Ctx): Seq[(String, Double)] = {
    val d = load(c, "embeddings").select("vec_id", "text").persist()
    val sigs = MinHash.signatures(d, "text", "vec_id", 3, 64)
    val bands = sigs.select(col("_gf_id").as("id"),
      posexplode(MinHash.bandHashes(col("_gf_sig"), 64, 16)).as(Seq("band", "bh")))
    val candidates = bands.as("a").join(bands.as("b"), Seq("band", "bh"))
      .filter(col("a.id") < col("b.id")).select(col("a.id"), col("b.id")).distinct().count()
    val confirmed = MinHash.nearDuplicatePairs(d, "text", "vec_id").count()
    d.unpersist(true)
    Seq("dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.pair_yield" -> (if (candidates == 0) 0.0 else confirmed.toDouble / candidates),
      "sim.rerank_yield" -> K.toDouble / Shortlist)
  }

  override def kernels(c: Ctx): Seq[Kernel] = {
    val docs = load(c, "embeddings")
    val text = docs.select(col("text"), MinHash.shingles(col("text"), 3).as("sh"))
      .crossJoin(c.spark.range(2).toDF("copy")).persist()
    // ADC and cosine cost nanoseconds a row: a longer frame, the LUT a literal
    val vec = docs.select(col("embedding"), reverse(col("embedding")).as("q"),
        GraftFunctions.packBytes(transform(sequence(lit(0), lit(SubSpaces - 1)),
          j => pmod(xxhash64(col("vec_id"), j), lit(Centroids.toLong)).cast("int"))).as("code"))
      .crossJoin(c.spark.range(64).toDF("copy")).persist()
    val lut = typedLit((0 until SubSpaces * Centroids).map(j => (j * 7919 % 1000) / 1000.0))
    val lm = LangModel.train(docs, "text")
    val (uni, bi) = LangModel.collectTables(lm)
    val total = lm.total
    lm.release()
    val b = length(col("text"))
    Seq(
      Kernel("TextQuality", text, TextQuality.textQualityScore(col("text")), b),
      Kernel("LangId", text, LangId.langId(col("text")), b),
      Kernel("GopherSignals", text, GopherSignals.gopherSignals(col("text")), b),
      Kernel("MinHashSig", text, GraftFunctions.minhashSig(col("sh"), 64), size(col("sh"))),
      Kernel("LmScore", text, LmScoreRow.lmScoreRow(col("text"), uni, bi, total, 0.4), b),
      Kernel("DeflateLen", text, GraftFunctions.deflateLen(col("text")), b),
      Kernel("VecCosine", vec, GraftFunctions.vecCosine(col("embedding"), col("q")),
        size(col("embedding"))),
      Kernel("PqAdcSum", vec, GraftFunctions.pqAdcSum(col("code"), lut, Centroids),
        length(col("code"))))
  }
}
