package graft.sim

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-compression scale path of the
  * ANN family, after Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", IEEE TPAMI 33(1), 2011 (public paper; no
  * reference-repo analogue — the reference has no vector search at all).
  *
  * Where [[Ivf]] prunes WHICH vectors a query scores, PQ compresses WHAT
  * is scored: each L2-normalized vector is split into `m` subvectors,
  * each subvector quantized to its nearest entry in a per-subspace
  * codebook of `ks ≤ 256` centroids, and the vector stored as `m` BYTES
  * ([[graft.functions.PackBytes]]). A 64-dim float embedding is 256 B;
  * its m=8 code is 8 B — 32× less state to scan, which at 100 TB is the
  * difference between an in-memory code scan and a disk-bound vector
  * scan. Ranking uses ADC (asymmetric distance computation): the query
  * stays EXACT, one `m×ks` lookup table of per-subspace squared L2
  * distances is built per query (a dimension-sized frame), and each
  * corpus code scores as Σ_m lut[m·ks + code[m]] — `m` adds per pair
  * instead of a D-dimensional float walk
  * ([[graft.functions.PqAdcSum]], one generated loop).
  *
  * Cosine comes out of L2 ADC because everything is normalized first:
  * for unit vectors ‖q−x‖² = 2 − 2·cos(q,x), so
  * `adc_cosine = 1 − adc/2` estimates cosine and ranks identically to
  * the ADC distance. Approximation error is the per-subspace
  * quantization residual — raise `ks` (finer cells) or `m` (shorter
  * subvectors) for accuracy, and pair with [[Ivf]] cell pruning (encode
  * the corpus once, filter codes to the probed cells' ids before the ADC
  * scan) for the classic IVFADC layout.
  *
  * Spark shapes, 100 TB-first:
  *  - training traffic is dimension-sized: codebooks total `ks × dim`
  *    doubles (e.g. 256×1024 ≈ 2 MB) — the one thing collected, exactly
  *    like [[Ivf]]'s coarse level; every Lloyd assignment is a broadcast
  *    join + map-side-combining min-aggregate, never a corpus collect;
  *  - the subspace explode multiplies rows by `m`, but each row carries
  *    only a `dim/m`-element slice — total bytes shuffled stay ~constant
  *    and the min-aggregate collapses map-side;
  *  - the ADC scan is a crossJoin against a BROADCAST query-LUT frame
  *    (queries are a dimension-sized batch, the [[Ivf.topK]] contract)
  *    with all per-pair work in one codegen'd expression.
  */
object Pq {

  /** Index metadata, persisted as `manifest.json` and validated on
    * read/probe — same fail-loudly contract as [[Ivf.IvfMeta]]. */
  final case class PqMeta(dim: Int, m: Int, ks: Int, iters: Int, seed: Long,
                          metric: String)

  /** `codebooks`: m×ks rows (_gf_m, _gf_c, _gf_cbv: array<double>) —
    * broadcast-sized. `codes`: corpus rows (_gf_id, _gf_code: binary of
    * m bytes). [[train]] returns both materialized (`codebooks` cached,
    * `codes` pinned as a leaf plan, see [[graft.Materialize]]), owned by
    * [[release]] — codes are the compressed corpus (id + m bytes per row:
    * the artifact built to be RAM-resident; at 10⁹ vectors × m=16 that is
    * ~24 GB across a cluster), so repeated probes scan memory instead of
    * re-running the encode pass. A long-lived driver that trains
    * repeatedly must [[release]] — the same contract as
    * [[Ivf.IvfIndex.release]]. */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
                           meta: PqMeta) {
    /** Release the codebook + code frames (non-blocking: outstanding jobs
      * finish their reads; probing afterwards recomputes). */
    def release(): Unit =
      Seq(codebooks, codes).foreach(graft.Materialize.release)
  }

  /** L2-normalize to array<double> — the native
    * [[graft.functions.VecNormalize]] (an all-zero vector stays zero and
    * quantizes like any other point). MUST stay a single codegen'd
    * expression: CollapseProject inlines this column into each of the m
    * subspace slices, and the interpreted HOF formulation
    * (transform + aggregate + zip_with) then costs m× per row and falls
    * out of whole-stage subexpression elimination — measured 2-3× on the
    * whole encode pass at sf0.1. */
  private def normalized(v: Column): Column = GraftFunctions.vecNormalize(v)

  /** The residual path ([[IvfPq.buildResidual]]) quantizes CENTERED
    * vectors (normalize(v) − cell centroid) which are deliberately NOT
    * unit — re-normalizing them would break the ‖(q−c) − (x−c)‖ = ‖q−x‖
    * identity the residual ADC estimate rests on. `array<double>` cast so
    * float inputs slice/score identically to the normalized path. */
  private def prepped(v: Column, normalize: Boolean): Column =
    if (normalize) normalized(v) else v.cast("array<double>")

  /** Explode a normalized vector into (subspace id, subvector slice). */
  private def subspaces(nv: Column, m: Int, ds: Int): Column =
    explode(array((0 until m).map(i =>
      struct(lit(i).as("_gf_m"), slice(nv, i * ds + 1, ds).as("_gf_sv"))): _*))

  /** Nearest codebook entry per (row, subspace): broadcast join on the
    * subspace id + one min-aggregate (partial aggregation collapses the
    * ×ks blow-up map-side). */
  private def assign(sub: DataFrame, codebooks: DataFrame): DataFrame =
    sub.join(broadcast(codebooks), Seq("_gf_m"))
      .withColumn("_gf_d", GraftFunctions.vecL2Sq(col("_gf_sv"), col("_gf_cbv")))
      .groupBy("_gf_id", "_gf_m")
      .agg(first(col("_gf_sv")).as("_gf_sv"),
        min(struct(col("_gf_d"), col("_gf_c"))).getField("_gf_c").as("_gf_c"))

  private def validate(df: DataFrame, vecCol: String): Unit =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType |
        org.apache.spark.sql.types.DoubleType, _) => ()
      case other => throw new IllegalArgumentException(
        s"Pq expects $vecCol: array<float|double>, got ${other.simpleString}")
    }

  /** Train per-subspace codebooks with `iters` Lloyd rounds and encode
    * the corpus. `dim` must divide evenly into `m` subspaces; `ks ≤ 256`
    * so codes pack into bytes. Deterministic (hash-ranked seeds).
    *
    * Codebooks are trained on a bounded deterministic SAMPLE
    * (`trainSample` hash-top rows, default 128·ks — the PQ paper's own
    * regime: codebooks for a billion-vector index train on ~10⁵ samples):
    * the Lloyd loop touches only the pinned sample, so its per-round cost
    * is independent of corpus size, and the full corpus is read exactly
    * once, by the final [[encode]] pass. `trainSample` > 0 overrides the
    * sample size (it is clamped to at least ks); the 128·ks default
    * covers small fixtures entirely (sample ≥ corpus → exact). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
            m: Int, ks: Int = 256, iters: Int = 3,
            seed: Long = 42L, trainSample: Int = 0,
            normalize: Boolean = true): PqIndex = {
    require(m >= 1, s"m=$m subspaces must be positive")
    require(ks >= 1 && ks <= 256, s"ks=$ks must be in 1..256 (byte codes)")
    validate(corpus, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = Similarity.inferDim(corpus, vecCol)
    require(dim % m == 0, s"dim=$dim is not divisible into m=$m subspaces")
    val ds = dim / m
    val sampleN = if (trainSample > 0) math.max(trainSample, ks)
                  else 128 * ks

    val base = corpus.select(col(idCol).as("_gf_id"),
      prepped(col(vecCol), normalize).as("_gf_nv"))
    // deterministic hash-top sample (TakeOrdered — one corpus pass, no
    // corpus-wide window); pinned for the duration of the Lloyd loop (a
    // leaf plan: every round's plan stays sample-sized, not corpus-sized)
    val trainBase = graft.Materialize.pin(base
      .orderBy(xxhash64(col("_gf_id"), lit(seed)), col("_gf_id"))
      .limit(sampleN))
    val sub = trainBase
      .select(col("_gf_id"), subspaces(col("_gf_nv"), m, ds).as("_gf_s"))
      .select(col("_gf_id"), col("_gf_s._gf_m").as("_gf_m"),
        col("_gf_s._gf_sv").as("_gf_sv"))

    // Seed: the ks smallest-hash sample rows, each contributing its slice
    // to every subspace's codebook — the standard "sample ks points,
    // split them" PQ initialization.
    val seedW = Window.orderBy(xxhash64(col("_gf_id"), lit(seed)), col("_gf_id"))
    val seeds = trainBase
      .orderBy(xxhash64(col("_gf_id"), lit(seed)), col("_gf_id")).limit(ks)
      .withColumn("_gf_c", row_number().over(seedW) - 1) // ks rows: tiny window
      .select(col("_gf_c"), subspaces(col("_gf_nv"), m, ds).as("_gf_s"))
      .select(col("_gf_s._gf_m").as("_gf_m"), col("_gf_c"),
        col("_gf_s._gf_sv").as("_gf_cbv"))

    // Codebooks live on the driver between rounds: ks×dim doubles total —
    // dimension-sized by construction (the same budget as Ivf's coarse
    // centroids), and collecting keeps each round's lineage flat.
    var cb: Array[(Int, Int, Seq[Double])] = seeds.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    def cbDf(): DataFrame = cb.toSeq.toDF("_gf_m", "_gf_c", "_gf_cbv")

    for (_ <- 1 to iters) {
      val assigned = assign(sub, cbDf())
      val means = assigned
        .select(col("_gf_m"), col("_gf_c"),
          posexplode(col("_gf_sv")).as(Seq("_gf_pos", "_gf_x")))
        .groupBy("_gf_m", "_gf_c", "_gf_pos")
        // exact quantized-long mean — codebooks must not depend on the
        // sample's partition layout (multi-split embeddings scan, r15)
        .agg(graft.Num.qmean(col("_gf_x"), lit(1e12)).as("_gf_mean"))
        .collect() // m×ks×ds doubles = ks×dim — dimension-sized
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (mc, rows) =>
          mc -> rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
        }
      // empty cells keep their previous centroid
      cb = cb.map { case (mm, c, old) =>
        (mm, c, means.getOrElse((mm, c), old))
      }
    }
    graft.Materialize.release(trainBase)

    val codebooks = cbDf().cache()
    val codes = graft.Materialize.pin(
      encode(corpus, idCol, vecCol, codebooks, m, ds, normalize))
    PqIndex(codebooks, codes,
      PqMeta(dim, m, ks, iters, seed,
        if (normalize) "cosine-l2adc" else "l2adc-residual"))
  }

  /** Encode a (possibly new — incremental ingest) corpus against existing
    * codebooks: assign each subvector, assemble the m codes in subspace
    * order, pack to binary. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             codebooks: DataFrame, m: Int, ds: Int,
             normalize: Boolean = true): DataFrame = {
    validate(df, vecCol)
    val base = df.select(col(idCol).as("_gf_id"),
      prepped(col(vecCol), normalize).as("_gf_nv"))
    val sub = base.select(col("_gf_id"), subspaces(col("_gf_nv"), m, ds).as("_gf_s"))
      .select(col("_gf_id"), col("_gf_s._gf_m").as("_gf_m"),
        col("_gf_s._gf_sv").as("_gf_sv"))
    assign(sub, codebooks)
      .groupBy("_gf_id")
      .agg(GraftFunctions.packBytes(
        transform(array_sort(collect_list(struct(col("_gf_m"), col("_gf_c")))),
          s => s.getField("_gf_c"))).as("_gf_code"))
  }

  /** Top-k by ADC over the code scan. CONTRACT (as [[Ivf.topK]]):
    * `queries` is a dimension-sized batch — its LUT frame is broadcast.
    * Output cosines are ESTIMATES (quantized corpus, exact query); rank
    * quality degrades gracefully with ks/m, measured by
    * [[Similarity.recallAt]] against the brute-force truth. */
  def topK(index: PqIndex, queries: DataFrame, queryId: String,
           queryVec: String, k: Int = 10): DataFrame = {
    val luts = lutFrame(index, queries, queryId, queryVec)
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    index.codes.crossJoin(broadcast(luts))
      .withColumn("_gf_cos",
        lit(1.0) - GraftFunctions.pqAdcSum(col("_gf_code"), col("_gf_lut"),
          index.meta.ks) / 2)
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"),
        graft.Num.dround(col("_gf_cos"), 6).as("adc_cosine"))
  }

  /** Per-query ADC lookup tables — (_gf_qid, _gf_lut: array<double> of
    * m×ks squared distances, flattened subspace-major: `array_sort` on
    * struct(_gf_m, _gf_c, …) orders lexicographically and every (m, c)
    * pair is present exactly once by construction). Queries-sized; both
    * [[topK]] and the IVFADC composition ([[IvfPq.topK]]) broadcast it.
    * Raises at plan time on a wrong-dim query batch, not as a runtime
    * slice anomaly (the manifest/meta always rides the index). */
  private[sim] def lutFrame(index: PqIndex, queries: DataFrame,
                            queryId: String, queryVec: String): DataFrame = {
    validate(queries, queryVec)
    val qdim = Similarity.inferDim(queries, queryVec)
    if (qdim != index.meta.dim) throw new IllegalArgumentException(
      s"query vector dim $qdim does not match index dim ${index.meta.dim} " +
        "— wrong index or wrong embedding column")
    lutKeyed(index,
      queries.select(col(queryId).as("_gf_qid"), col(queryVec).as("_gf_qv")),
      Seq("_gf_qid"), "_gf_qv", normalize = true)
  }

  /** Generalized LUT builder: one `m×ks` flattened table per distinct
    * `keyCols` tuple of `df` — [[lutFrame]] keys by query id only; the
    * residual IVFADC path keys by (query id, probed cell id) because the
    * query RESIDUAL differs per probed cell (Jégou §V.A: one LUT per
    * (query, cell), the documented extra probe cost of residual
    * encoding). Caller owns dim validation. */
  private[sim] def lutKeyed(index: PqIndex, df: DataFrame,
                            keyCols: Seq[String], vecCol: String,
                            normalize: Boolean): DataFrame = {
    val m = index.meta.m
    val ds = index.meta.dim / m
    val keys = keyCols.map(col)
    val qbase = df.select(keys :+ prepped(col(vecCol), normalize).as("_gf_qnv"): _*)
    val qsub = qbase.select(keys :+ subspaces(col("_gf_qnv"), m, ds).as("_gf_s"): _*)
      .select(keys ++ Seq(col("_gf_s._gf_m").as("_gf_m"),
        col("_gf_s._gf_sv").as("_gf_qsv")): _*)
    qsub.join(broadcast(index.codebooks), Seq("_gf_m"))
      .withColumn("_gf_d", GraftFunctions.vecL2Sq(col("_gf_qsv"), col("_gf_cbv")))
      .groupBy(keys: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("_gf_m"), col("_gf_c"), col("_gf_d")))),
        s => s.getField("_gf_d")).as("_gf_lut"))
  }

  /** Persist codebooks + codes + manifest (same completeness-marker and
    * fail-loudly contract as [[Ivf.writeIndex]]). The code table is the
    * corpus-sized artifact — m bytes per row. */
  def writeIndex(index: PqIndex, path: String): Unit = {
    index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    val mt = index.meta
    val json =
      s"""{"format": "graft-pq-v1", "dim": ${mt.dim}, "m": ${mt.m}, """ +
        s""""ks": ${mt.ks}, "iters": ${mt.iters}, "seed": ${mt.seed}, """ +
        s""""metric": "${mt.metric}"}"""
    val spark = index.codebooks.sparkSession
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Re-open a persisted PQ index. Validates manifest presence/sanity and
    * pins it to the data (codebook slice length = dim/m). `expectMetric`
    * guards against probing with the wrong distance: a plain open refuses
    * a residual-encoded index (its codes only make sense relative to the
    * per-cell offsets [[IvfPq.readIndexResidual]] carries) and vice
    * versa. */
  def readIndex(spark: SparkSession, path: String,
                expectMetric: String = "cosine-l2adc"): PqIndex = {
    val meta = readManifest(spark, path, expectMetric)
    val codebooks = spark.read.parquet(s"$path/codebooks")
    val codes = spark.read.parquet(s"$path/codes")
    codebooks.select(size(col("_gf_cbv"))).limit(1).collect().headOption.foreach { r =>
      if (r.getInt(0) != meta.dim / meta.m) throw new IllegalArgumentException(
        s"PQ index at $path is inconsistent: manifest says dim=${meta.dim} " +
          s"m=${meta.m} (subvector ${meta.dim / meta.m}) but codebook entries " +
          s"have ${r.getInt(0)} dims — the manifest does not belong to this " +
          "data; retrain or restore the matching files")
    }
    PqIndex(codebooks, codes, meta)
  }

  /** Incremental ingest, the [[Ivf.appendToIndex]] twin: encode a NEW
    * batch against a persisted index's FROZEN codebooks and append the
    * byte codes — the daily-ingest path for the compressed corpus.
    * Same refusal contract: wrong-dim batches raise from the manifest
    * check before any work, and id collisions raise from a column-pruned
    * semi-join before any write (a duplicate id would double-count in
    * every ADC scan). Returns rows appended.
    *
    * Same concurrency contract as [[Ivf.appendToIndex]]: SINGLE WRITER
    * (the id check and the write are not atomic together); failure
    * atomicity via the dot-prefixed staging dir + rename promotion, so a
    * mid-write crash never tears the live code file. */
  def appendToIndex(spark: SparkSession, path: String, batch: DataFrame,
                    idCol: String, vecCol: String,
                    checkIds: Boolean = true): Long = {
    val meta = readManifest(spark, path)
    val dim = Similarity.inferDim(batch, vecCol)
    if (dim != meta.dim) throw new IllegalArgumentException(
      s"append batch has vector dim $dim but the PQ index at $path was " +
        s"trained at dim ${meta.dim} — wrong embedding column or wrong index")
    val codebooks = spark.read.parquet(s"$path/codebooks")
    val base = batch.select(col(idCol).as("_gf_id"))
    if (checkIds) {
      val existing = spark.read.parquet(s"$path/codes").select("_gf_id")
      val clash = base.join(existing, Seq("_gf_id"), "left_semi")
        .limit(5).collect()
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"append batch re-uses ids already present in the PQ index at " +
          s"$path (e.g. ${clash.map(_.get(0)).mkString(", ")}) — appending " +
          "them would double-count rows in every ADC scan; dedup the " +
          "batch or use fresh ids")
    }
    val coded = encode(batch, idCol, vecCol, codebooks,
      meta.m, meta.dim / meta.m).cache()
    val n = coded.count()
    val staging = Ivf.stageAppend(spark, path,
      out => coded.write.mode("overwrite").parquet(out))
    Ivf.promoteStaged(spark, staging, s"$path/codes", partitioned = false)
    coded.unpersist(false)
    n
  }

  private def readManifest(spark: SparkSession, path: String,
                           expectMetric: String = "cosine-l2adc"): PqMeta = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"$path/manifest.json is missing — not a graft PQ index; re-create " +
        "it with Pq.writeIndex")
    val in = fs.open(mp)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val meta =
      try {
        // SafeConstructor for the same reason as Ivf.readManifest: a
        // shared-filesystem manifest must not instantiate classes.
        val y = new org.yaml.snakeyaml.Yaml(
            new org.yaml.snakeyaml.constructor.SafeConstructor(
              new org.yaml.snakeyaml.LoaderOptions()))
          .load[java.util.Map[String, Object]](txt)
        def num(k: String): Long = y.get(k) match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"field '$k' is ${if (other == null) "missing" else other.toString}")
        }
        PqMeta(num("dim").toInt, num("m").toInt, num("ks").toInt,
          num("iters").toInt, num("seed"), String.valueOf(y.get("metric")))
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$path/manifest.json is corrupt: ${e.getMessage}", e)
      }
    if (meta.dim <= 0 || meta.m <= 0 || meta.ks <= 0 || meta.ks > 256 ||
        meta.dim % meta.m != 0) throw new IllegalArgumentException(
      s"$path/manifest.json is corrupt: dim=${meta.dim}, m=${meta.m}, " +
        s"ks=${meta.ks}")
    if (meta.metric != expectMetric) throw new IllegalArgumentException(
      s"$path/manifest.json declares metric='${meta.metric}' but this " +
        s"open expects '$expectMetric' — a residual-encoded index is only " +
        "probeable through IvfPq.readIndexResidual (its codes are " +
        "relative to per-cell offsets), and a plain index only through " +
        "plain opens; refusing to probe with the wrong distance")
    meta
  }
}
