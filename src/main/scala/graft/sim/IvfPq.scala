package graft.sim

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the composition of [[Ivf]] cell pruning with [[Pq]] code
  * compression (Jégou et al., TPAMI 2011, §V: "IVFADC"), the canonical
  * billion-vector ANN layout: the inverted file decides WHICH rows a
  * query scores (nprobe cells instead of the whole corpus) and product
  * quantization decides HOW MUCH each scored row costs (m byte-code adds
  * instead of a D-dim float walk). With both levers a probe touches
  * `corpus × nprobe/K` rows at `m` adds each — the only corpus-sized
  * artifact in memory is the (cid, id, code) table at ~(8+8+m) bytes per
  * vector.
  *
  * [[build]] co-locates each vector's PQ code with its IVF cell id — ONE
  * equi-join at index-build time, the analogue of writing codes into the
  * inverted lists. At 100 TB this frame is what you persist, partitioned
  * by `_gf_cid` exactly like [[Ivf.writeIndex]] partitions the raw
  * vectors, so a probe's static IN filter partition-prunes to the probed
  * cells' code files; the probe-side machinery (single-collect probe
  * subplan, broadcast LocalRelation, manifest-validated dims) is
  * inherited unchanged from [[Ivf.collectProbes]] / [[Pq.lutFrame]].
  *
  * [[build]]'s codes quantize the ORIGINAL vectors, not cell residuals:
  * the ADC estimate is cell-independent, so recall loss comes only from
  * pruning (unprobed cells) and quantization (codebook resolution) — and
  * probing ALL cells recovers [[Pq.topK]]'s full-scan result exactly
  * (pinned in PqSpec). [[buildResidual]] is the paper's §V.A refinement:
  * codes quantize `normalize(v) − centroid(cell)` instead. Residuals
  * concentrate near the origin (the cell already explains the coarse
  * position), so the same `m×ks` codebook budget resolves FINER detail —
  * accuracy-per-byte wins at equal m/ks (measured in IvfPqSpec). The
  * documented cost: the query-side LUT must be rebuilt per (query,
  * probed cell) — nprobe× more LUT work, still dimension-sized — because
  * the query residual `normalize(q) − centroid(cell)` differs per cell.
  * The estimate stays exact-in-the-centering: ‖(q−c) − (x−c)‖ = ‖q−x‖,
  * so centering introduces NO error of its own and cosine = 1 − d²/2
  * still holds on the normalized sphere. */
object IvfPq {

  /** `coCodes`: corpus rows (_gf_cid, _gf_id, _gf_code) — the inverted
    * lists with byte codes in place of vectors. [[build]] returns it
    * materialized (pinned as a leaf plan, see [[graft.Materialize]]),
    * owned by [[release]]. */
  final case class IvfPqIndex(ivf: Ivf.IvfIndex, pq: Pq.PqIndex,
                              coCodes: DataFrame) {
    /** Release the composite's frame and both children's (idempotent;
      * probing afterwards recomputes instead of reading stored rows). */
    def release(): Unit = {
      graft.Materialize.release(coCodes)
      ivf.release()
      pq.release()
    }
  }

  /** Join each vector's fine cell id with its PQ code (one build-time
    * shuffle on the id) and pin the result — the compressed inverted
    * file every probe scans. Both inputs must come from the same corpus:
    * a row present in one index but not the other is index corruption,
    * and the inner join would silently drop it — so build COUNTS both
    * sides and raises on mismatch (free on [[Ivf.train]]/[[Pq.train]]
    * output: a pinned frame knows its row count; re-opened indexes pay
    * one count job per side). */
  def build(ivf: Ivf.IvfIndex, pq: Pq.PqIndex): IvfPqIndex = {
    val coCodes = graft.Materialize.pin(
      ivf.indexed.select(col("_gf_cid"), col("_gf_id"))
        .join(pq.codes, Seq("_gf_id"))
        .select(col("_gf_cid"), col("_gf_id"), col("_gf_code")))
    // both directions: a SUBSET index joins cleanly against the larger
    // one, so comparing the join count to only one side would miss it
    val joined = graft.Materialize.rows(coCodes)
    val nPq = graft.Materialize.rows(pq.codes)
    val nIvf = graft.Materialize.rows(ivf.indexed)
    if (joined != nPq || joined != nIvf) throw new IllegalArgumentException(
      s"IvfPq.build: IVF and PQ indexes disagree — $nIvf cell-assigned " +
        s"vectors, $nPq coded vectors, $joined joined rows; the indexes " +
        "were not built from the same corpus (or ids collide)")
    IvfPqIndex(ivf, pq, coCodes)
  }

  /** Persist the compressed inverted file — the artifact row 92's layout
    * note promises: `codes` is the corpus-sized (cid, id, m-byte code)
    * table PARTITIONED BY the fine cell id, so a probe's static IN
    * filter partition-prunes to the probed cells' code files exactly
    * like [[Ivf.writeIndex]]'s raw layout — plus the two child indexes
    * ([[Ivf.writeIndex]]: centroids + raw vectors for the rerank fetch;
    * [[Pq.writeIndex]]: codebooks) and a parent manifest written LAST as
    * the completeness marker. Repartitioned by cell id before the write
    * so file count is bounded by cells, not cells × tasks. The residual
    * variant persists through [[writeIndexResidual]] (offsets included,
    * PQ manifest metric-gated so the two layouts cannot be cross-opened). */
  def writeIndex(index: IvfPqIndex, path: String): Unit = {
    Ivf.writeIndex(index.ivf, s"$path/ivf")
    Pq.writeIndex(index.pq, s"$path/pq")
    index.coCodes.repartition(col("_gf_cid"))
      .write.mode("overwrite").partitionBy("_gf_cid").parquet(s"$path/codes")
    val json =
      s"""{"format": "graft-ivfpq-v1", "dim": ${index.pq.meta.dim}, """ +
        s""""m": ${index.pq.meta.m}, "ks": ${index.pq.meta.ks}}"""
    val spark = index.coCodes.sparkSession
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Re-open a persisted IVFADC index. The child manifests carry the
    * real validation ([[Ivf.readIndex]]/[[Pq.readIndex]] each pin their
    * manifest to their data); this adds the cross-check the children
    * cannot do alone — both halves must describe the SAME geometry — so
    * a dir assembled from two different indexes fails at open time, not
    * as silently-wrong ADC estimates mid-probe. */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"$path/manifest.json is missing — not a graft IVFADC index (or a " +
        "torn write: the manifest is written last); re-create it with " +
        "IvfPq.writeIndex")
    val ivf = Ivf.readIndex(spark, s"$path/ivf")
    val pq = Pq.readIndex(spark, s"$path/pq")
    val ivfDim = ivf.meta.map(_.dim).getOrElse(-1)
    if (ivfDim != pq.meta.dim) throw new IllegalArgumentException(
      s"IVFADC index at $path is inconsistent: IVF half says dim=$ivfDim " +
        s"but PQ half says dim=${pq.meta.dim} — the halves were not built " +
        "together; retrain or restore the matching files")
    val coCodes = spark.read.parquet(s"$path/codes")
      .select(col("_gf_cid").cast("long").as("_gf_cid"),
        col("_gf_id"), col("_gf_code"))
    IvfPqIndex(ivf, pq, coCodes)
  }

  /** Residual IVFADC index: `coCodes` quantizes residuals, `offsets` is
    * the K-row (_gf_cid, _gf_off) per-cell centering table both the
    * encode and every probe subtract — broadcast-sized (cells × dim
    * doubles, same budget as the fine-centroid table itself).
    * [[buildResidual]] returns both pinned (leaf plans, see
    * [[graft.Materialize]]), owned by [[release]]. */
  final case class IvfPqResidualIndex(ivf: Ivf.IvfIndex, pq: Pq.PqIndex,
                                      coCodes: DataFrame, offsets: DataFrame) {
    /** Release this index's own materialized frames AND the child
      * indexes' (the composite owns the lot — a caller holding only this
      * handle has no other way to reach them). Probing after release
      * stays correct but recomputes per probe. */
    def release(): Unit = {
      Seq(coCodes, offsets).foreach(graft.Materialize.release)
      ivf.release()
      pq.release()
    }
  }

  /** Jégou §V.A residual encoding: quantize `normalize(v) − offset(cell)`
    * against codebooks trained on the residuals (NO re-normalization —
    * [[Pq]]'s `normalize=false` path). The offset is the per-cell MEAN
    * of the normalized members — NOT the unit-normalized centroid: the
    * mean is the L2-optimal center, so per cell (and per subspace)
    * Σ‖v−off‖² ≤ Σ‖v‖² by construction, i.e. the residual data the
    * codebooks must cover carries provably no more energy than what plain
    * [[build]] quantizes (a unit centroid has the OPPOSITE property when
    * member-centroid cosines are low: ‖v−c‖² = 2−2cos > 1 — measured
    * worse than plain on the sf0.1 embeddings before this choice). Any
    * per-cell constant preserves the distance identity; this one also
    * shrinks what the byte budget must resolve.
    *
    * Scale shape: one posexplode aggregate for the offsets (≤ cells×dim
    * rows shuffle, map-side combined) + one broadcast join + the normal
    * PQ train/encode over the residual plan — the corpus is read once by
    * the offset pass, once by the sample pass, once by encode. Same
    * index-integrity counting as [[build]]. */
  def buildResidual(ivf: Ivf.IvfIndex, m: Int, ks: Int = 256,
                    iters: Int = 3, seed: Long = 42L,
                    trainSample: Int = 0): IvfPqResidualIndex = {
    // Every consumer below (offset aggregate, PQ train sample, encode,
    // coCodes join, integrity count) reads the normalized corpus: pin it
    // once for the build (released below), and pin the two frames the
    // index keeps, so no plan nests the caller's (graft.Materialize).
    val normed = graft.Materialize.pin(ivf.indexed.select(col("_gf_cid"),
      col("_gf_id"), GraftFunctions.vecNormalize(col("_gf_v")).as("_gf_nv")))
    val offsets = graft.Materialize.pin(normed
      .select(col("_gf_cid"), posexplode(col("_gf_nv")).as(Seq("_gf_pos", "_gf_x")))
      .groupBy("_gf_cid", "_gf_pos")
      // exact quantized-long mean (graft.Num.qmean): a raw avg(double)'s
      // partition-merge order would leak into the offsets now that the
      // embeddings scan is multi-split (r15)
      .agg(graft.Num.qmean(col("_gf_x"), lit(1e12)).as("_gf_mx"))
      .groupBy("_gf_cid")
      .agg(transform(
        array_sort(collect_list(struct(col("_gf_pos"), col("_gf_mx")))),
        s => s.getField("_gf_mx")).as("_gf_off")))
    val residuals = normed
      .join(broadcast(offsets), Seq("_gf_cid"))
      .select(col("_gf_cid"), col("_gf_id"),
        zip_with(col("_gf_nv"), col("_gf_off"), (a, b) => a - b).as("_gf_rv"))
    val pq = Pq.train(residuals, "_gf_id", "_gf_rv", m, ks, iters, seed,
      trainSample, normalize = false)
    val coCodes = graft.Materialize.pin(
      residuals.select(col("_gf_cid"), col("_gf_id"))
        .join(pq.codes, Seq("_gf_id"))
        .select(col("_gf_cid"), col("_gf_id"), col("_gf_code")))
    val joined = graft.Materialize.rows(coCodes)
    val nIvf = graft.Materialize.rows(normed) // same rows as ivf.indexed
    graft.Materialize.release(normed)
    if (joined != nIvf) throw new IllegalArgumentException(
      s"IvfPq.buildResidual: $nIvf indexed vectors but $joined coded rows " +
        "— ids collide or the encode dropped rows")
    IvfPqResidualIndex(ivf, pq, coCodes, offsets)
  }

  /** Top-k by residual ADC over the probed cells. Same probe machinery
    * as [[topK]] (single-collect probe subplan, static IN pruning on the
    * cid-partitioned codes); the difference is the LUT frame: one table
    * per (query, probed cell), built from the per-cell query residual —
    * `queries × nprobe` LUT rows instead of `queries`, still broadcast.
    * The (qid, cid) LUT join IS the probe-pair join: a code row scores
    * for exactly the queries that probed its cell. */
  def topKResidual(index: IvfPqResidualIndex, queries: DataFrame,
                   queryId: String, queryVec: String,
                   k: Int = 10, nprobe: Int = 4): DataFrame = {
    val (probeRows, probeSchema) =
      Ivf.collectProbes(index.ivf, queries, queryId, queryVec, nprobe)
    val spark = index.coCodes.sparkSession
    val cidIdx = probeSchema.fieldIndex("_gf_cid")
    val probedCids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    val pairsQv = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probeSchema)
    val withRes = index.offsets.join(broadcast(pairsQv), Seq("_gf_cid"))
      .select(col("_gf_qid"), col("_gf_cid"),
        zip_with(GraftFunctions.vecNormalize(col("_gf_qv")), col("_gf_off"),
          (a, b) => a - b).as("_gf_qrv"))
    val luts = Pq.lutKeyed(index.pq, withRes,
      Seq("_gf_qid", "_gf_cid"), "_gf_qrv", normalize = false)
    val pruned =
      if (probedCids.isEmpty) index.coCodes.filter(lit(false))
      else index.coCodes.filter(col("_gf_cid").isin(probedCids: _*))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    pruned.join(broadcast(luts), Seq("_gf_cid"))
      .withColumn("_gf_cos",
        lit(1.0) - GraftFunctions.pqAdcSum(col("_gf_code"), col("_gf_lut"),
          index.pq.meta.ks) / 2)
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"),
        graft.Num.dround(col("_gf_cos"), 6).as("adc_cosine"))
  }

  /** Persist a residual index: the plain layout plus the K-row `offsets`
    * table (the per-cell centering every probe must subtract — without
    * it the codes are meaningless, which is why [[Pq]]'s manifest gate
    * refuses to open a residual PQ half through a plain open). */
  def writeIndexResidual(index: IvfPqResidualIndex, path: String): Unit = {
    Ivf.writeIndex(index.ivf, s"$path/ivf")
    Pq.writeIndex(index.pq, s"$path/pq") // manifest records l2adc-residual
    index.offsets.write.mode("overwrite").parquet(s"$path/offsets")
    index.coCodes.repartition(col("_gf_cid"))
      .write.mode("overwrite").partitionBy("_gf_cid").parquet(s"$path/codes")
    val json =
      s"""{"format": "graft-ivfpq-res-v1", "dim": ${index.pq.meta.dim}, """ +
        s""""m": ${index.pq.meta.m}, "ks": ${index.pq.meta.ks}}"""
    val spark = index.coCodes.sparkSession
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Re-open a persisted residual index (offsets cached — K×dim doubles,
    * the same budget as the fine centroids). Same open-time dim
    * cross-check as [[readIndex]]; additionally the offsets table must
    * match the geometry (a plain index dir is refused by the PQ metric
    * gate before this is reached). */
  def readIndexResidual(spark: org.apache.spark.sql.SparkSession,
                        path: String): IvfPqResidualIndex = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"$path/manifest.json is missing — not a graft residual IVFADC " +
        "index (or a torn write: the manifest is written last); " +
        "re-create it with IvfPq.writeIndexResidual")
    val ivf = Ivf.readIndex(spark, s"$path/ivf")
    val pq = Pq.readIndex(spark, s"$path/pq", expectMetric = "l2adc-residual")
    val ivfDim = ivf.meta.map(_.dim).getOrElse(-1)
    if (ivfDim != pq.meta.dim) throw new IllegalArgumentException(
      s"residual IVFADC index at $path is inconsistent: IVF half says " +
        s"dim=$ivfDim but PQ half says dim=${pq.meta.dim} — the halves " +
        "were not built together; retrain or restore the matching files")
    val offsets = spark.read.parquet(s"$path/offsets").cache()
    offsets.select(size(col("_gf_off"))).limit(1).collect().headOption.foreach { r =>
      if (r.getInt(0) != pq.meta.dim) throw new IllegalArgumentException(
        s"residual IVFADC index at $path is inconsistent: offsets have " +
          s"dim=${r.getInt(0)} but the manifest says ${pq.meta.dim}")
    }
    val coCodes = spark.read.parquet(s"$path/codes")
      .select(col("_gf_cid").cast("long").as("_gf_cid"),
        col("_gf_id"), col("_gf_code"))
    IvfPqResidualIndex(ivf, pq, coCodes, offsets)
  }

  /** Incremental ingest for the persisted compressed inverted file: one
    * batch, BOTH halves — assign cells against the frozen centroids,
    * encode against the frozen codebooks, append the raw vectors into
    * `ivf/indexed` and the byte codes into `codes`, each cid-partitioned
    * so only the batch's cells' directories are written.
    *
    * Refusals BEFORE any write: wrong-dim batch (parent manifest), and
    * with `checkIds` (default) ids already present in EITHER half — a
    * duplicate code row double-counts in every ADC scan, and a duplicate
    * raw row duplicates rerank shortlist hits.
    *
    * Concurrency/failure contract (as [[Ivf.appendToIndex]]): SINGLE
    * WRITER; each half stages to a dot-prefixed dir and promotes via
    * renames. The two promotions are ordered raw-vectors-first because
    * the failure modes are asymmetric: an extra `ivf/indexed` row with
    * no code is INERT (never shortlisted — the shortlist comes from the
    * code scan; never probed by [[topK]], which reads codes only), but
    * an extra code row with no raw vector would surface phantom ids in
    * every ADC ranking. A crash between the promotions therefore leaves
    * a probeable, correct index plus some dead weight; re-running the
    * same append is refused by the id check (the ivf half has the ids) —
    * recover by re-staging with fresh ids or rebuilding. Returns rows
    * appended. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, idCol: String, vecCol: String,
                    checkIds: Boolean = true): Long = {
    val parent = readParentManifest(spark, path)
    val dim = Similarity.inferDim(batch, vecCol)
    if (dim != parent.dim) throw new IllegalArgumentException(
      s"append batch has vector dim $dim but the IVFADC index at $path " +
        s"was built at dim ${parent.dim} — wrong embedding column or " +
        "wrong index")
    val coarse = spark.read.parquet(s"$path/ivf/coarse")
    val cells = spark.read.parquet(s"$path/ivf/cells")
    val codebooks = spark.read.parquet(s"$path/pq/codebooks")
    val base = batch.select(col(idCol).as("_gf_id"), col(vecCol).as("_gf_v"))
    if (checkIds) {
      // both halves: a crash between a prior append's two promotions
      // leaves ids in ivf/indexed only — re-appending them would
      // duplicate raw rows (duplicate rerank hits)
      val existing = spark.read.parquet(s"$path/codes").select("_gf_id")
        .unionByName(spark.read.parquet(s"$path/ivf/indexed").select("_gf_id"))
      val clash = base.select("_gf_id").join(existing, Seq("_gf_id"),
        "left_semi").limit(5).collect()
      if (clash.nonEmpty) throw new IllegalArgumentException(
        s"append batch re-uses ids already present in the IVFADC index " +
          s"at $path (e.g. ${clash.map(_.get(0)).mkString(", ")}) — " +
          "appending them would duplicate rows in every probe; dedup the " +
          "batch or use fresh ids")
    }
    val assigned = Ivf.assignFine(Ivf.assignCoarse(base, coarse), cells)
      .select(col("_gf_cid"), col("_gf_id"), col("_gf_v")).cache()
    val coded = Pq.encode(batch, idCol, vecCol, codebooks,
      parent.m, parent.dim / parent.m)
    val coCoded = assigned.select(col("_gf_cid"), col("_gf_id"))
      .join(coded, Seq("_gf_id"))
      .select(col("_gf_cid"), col("_gf_id"), col("_gf_code")).cache()
    val n = coCoded.count()
    val nAssigned = assigned.count()
    if (n != nAssigned) throw new IllegalArgumentException(
      s"IvfPq.appendToIndex: $nAssigned cell-assigned batch rows but $n " +
        "coded rows — the batch has duplicate or null ids; nothing was " +
        "written")
    val s1 = Ivf.stageAppend(spark, s"$path/ivf",
      out => assigned.repartition(col("_gf_cid"))
        .write.mode("overwrite").partitionBy("_gf_cid").parquet(out))
    Ivf.promoteStaged(spark, s1, s"$path/ivf/indexed", partitioned = true)
    val s2 = Ivf.stageAppend(spark, path,
      out => coCoded.repartition(col("_gf_cid"))
        .write.mode("overwrite").partitionBy("_gf_cid").parquet(out))
    Ivf.promoteStaged(spark, s2, s"$path/codes", partitioned = true)
    assigned.unpersist(false)
    coCoded.unpersist(false)
    n
  }

  private final case class ParentMeta(dim: Int, m: Int, ks: Int)

  /** The one format [[appendToIndex]] may write into. A residual index
    * (`graft-ivfpq-res-v1`) stores codes of per-cell OFFSET residuals
    * plus an `offsets` table the plain append path neither applies nor
    * updates — appending plainly-encoded codes into it would silently
    * corrupt every ADC ranking, so the manifest format is checked and
    * anything else refused BEFORE any read of the codebooks. */
  private val AppendableFormat = "graft-ivfpq-v1"

  private def readParentManifest(spark: org.apache.spark.sql.SparkSession,
                                 path: String): ParentMeta = {
    val mp = new org.apache.hadoop.fs.Path(s"$path/manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) throw new IllegalArgumentException(
      s"$path/manifest.json is missing — not a graft IVFADC index (or a " +
        "torn write: the manifest is written last); re-create it with " +
        "IvfPq.writeIndex")
    val in = fs.open(mp)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val y =
      try {
        // SafeConstructor: a shared-filesystem manifest must not
        // instantiate classes (same rationale as Ivf/Pq.readManifest)
        new org.yaml.snakeyaml.Yaml(
            new org.yaml.snakeyaml.constructor.SafeConstructor(
              new org.yaml.snakeyaml.LoaderOptions()))
          .load[java.util.Map[String, Object]](txt)
      } catch {
        case e: Exception => throw new IllegalArgumentException(
          s"$path/manifest.json is corrupt: ${e.getMessage}", e)
      }
    if (y == null) throw new IllegalArgumentException(
      s"$path/manifest.json is empty")
    // format refusal stays OUTSIDE the corrupt-wrapper: a residual
    // index is a well-formed manifest being used wrongly, not damage
    y.get("format") match {
      case AppendableFormat => // the only append-safe layout
      case "graft-ivfpq-res-v1" => throw new IllegalArgumentException(
        s"the index at $path is a RESIDUAL IVFADC index " +
          "(graft-ivfpq-res-v1): its codes encode per-cell offset " +
          "residuals, which appendToIndex's plain encoding would " +
          "silently corrupt. Rebuild with buildResidual + " +
          "writeResidualIndex, or append to a plain-format index")
      case other => throw new IllegalArgumentException(
        s"$path/manifest.json field 'format' is ${if (other == null)
          "missing" else s"'$other'"} — expected '$AppendableFormat'")
    }
    def num(k: String): Int = y.get(k) match {
      case nn: Number => nn.intValue()
      case other => throw new IllegalArgumentException(
        s"$path/manifest.json field '$k' is ${if (other == null)
          "missing" else other.toString}")
    }
    val pm = ParentMeta(num("dim"), num("m"), num("ks"))
    if (pm.dim <= 0 || pm.m <= 0 || pm.dim % pm.m != 0)
      throw new IllegalArgumentException(
        s"$path/manifest.json: dim=${pm.dim}, m=${pm.m}")
    pm
  }

  /** The shared ADC scan: probe subplan collected ONCE upstream, (qid,
    * cid) pairs and per-query LUTs broadcast, `coCodes` pruned to the
    * probed cells — returns (_gf_qid, _gf_id, _gf_cos) with the ADC
    * cosine estimate, un-ranked. Both [[topK]] and [[topKRerank]] consume
    * it; only what happens AFTER the estimate differs. */
  private def adcScored(index: IvfPqIndex,
      probeRows: Array[org.apache.spark.sql.Row],
      probeSchema: org.apache.spark.sql.types.StructType,
      luts: DataFrame): DataFrame = {
    val spark = index.coCodes.sparkSession
    val cidIdx = probeSchema.fieldIndex("_gf_cid")
    val qidIdx = probeSchema.fieldIndex("_gf_qid")
    val probedCids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    // (qid, cid) probe pairs as a LocalRelation — the query vector stays
    // out of the scan side; the LUT already encodes it
    val pairSchema = org.apache.spark.sql.types.StructType(
      Seq(probeSchema(qidIdx), probeSchema(cidIdx)))
    val pairRows = probeRows.map(r =>
      org.apache.spark.sql.Row(r.get(qidIdx), r.getLong(cidIdx)))
    val pairs = spark.createDataFrame(
      java.util.Arrays.asList(pairRows: _*), pairSchema)
    val pruned =
      if (probedCids.isEmpty) index.coCodes.filter(lit(false))
      else index.coCodes.filter(col("_gf_cid").isin(probedCids: _*))
    pruned.join(broadcast(pairs), Seq("_gf_cid"))
      .join(broadcast(luts), Seq("_gf_qid"))
      .withColumn("_gf_cos",
        lit(1.0) - GraftFunctions.pqAdcSum(col("_gf_code"), col("_gf_lut"),
          index.pq.meta.ks) / 2)
      .select(col("_gf_qid"), col("_gf_id"), col("_gf_cos"))
  }

  /** Top-k by ADC over the probed cells only. CONTRACT (as [[Ivf.topK]]):
    * `queries` is a dimension-sized batch. The probe subplan runs once
    * (collected), the LUT frame is queries-sized (broadcast), and the
    * scan side is the `coCodes` rows of the probed cells — everything
    * else is never read. */
  def topK(index: IvfPqIndex, queries: DataFrame, queryId: String,
           queryVec: String, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val (probeRows, probeSchema) =
      Ivf.collectProbes(index.ivf, queries, queryId, queryVec, nprobe)
    val luts = Pq.lutFrame(index.pq, queries, queryId, queryVec)
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    adcScored(index, probeRows, probeSchema, luts)
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"),
        graft.Num.dround(col("_gf_cos"), 6).as("adc_cosine"))
  }

  /** IVFADC with exact re-ranking (the paper's §VI refinement, a.k.a.
    * IVFADC+R): the ADC estimate picks a SHORTLIST of `shortlist`
    * candidates per query (default 4·k), then only those rows' ORIGINAL
    * vectors are fetched and re-scored with the exact [[graft.functions.VecCosine]],
    * and the final top-k ranks on the exact value. This buys back the
    * quantization error at a bounded exact-distance cost — per query,
    * `shortlist` float walks instead of the whole probed set — and is the
    * standard production layout: byte codes decide who gets an exact
    * look, floats decide the answer.
    *
    * Scale shape: the exact pass joins the (queries × shortlist)-sized
    * candidate list (broadcast) against the cid-pruned `indexed` corpus
    * — the SAME static IN filter as the code scan, so a persisted index
    * partition-prunes both passes and the unprobed corpus is never read
    * in either representation. Query vectors re-enter via a second
    * dimension-sized broadcast derived from the already-collected probe
    * rows (no re-execution of the probe subplan).
    *
    * If the shortlist covers every probed candidate, the result is the
    * EXACT cosine ranking of the probed set — recall can only improve
    * over [[topK]]'s ADC ranking of the same set (pinned in IvfPqSpec);
    * with every cell probed it equals brute force exactly. */
  def topKRerank(index: IvfPqIndex, queries: DataFrame, queryId: String,
                 queryVec: String, k: Int = 10, nprobe: Int = 4,
                 shortlist: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val r = if (shortlist > 0) math.max(shortlist, k) else 4 * k
    val (probeRows, probeSchema) =
      Ivf.collectProbes(index.ivf, queries, queryId, queryVec, nprobe)
    val luts = Pq.lutFrame(index.pq, queries, queryId, queryVec)
    val shortW = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    val short = adcScored(index, probeRows, probeSchema, luts)
      .withColumn("_gf_rank", row_number().over(shortW))
      .filter(col("_gf_rank") <= r)
      .select(col("_gf_qid"), col("_gf_id"))
    // exact query vectors from the SAME collected probe rows (one row per
    // (qid, probed cell) — distinct to one per qid), broadcast
    val qidIdx = probeSchema.fieldIndex("_gf_qid")
    val qvIdx = probeSchema.fieldIndex("_gf_qv")
    val qSchema = org.apache.spark.sql.types.StructType(
      Seq(probeSchema(qidIdx), probeSchema(qvIdx)))
    val qRows = probeRows.map(pr => (pr.get(qidIdx), pr.get(qvIdx)))
      .distinct.map(t => org.apache.spark.sql.Row(t._1, t._2))
    val qvecs = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSchema)
    val cidIdx = probeSchema.fieldIndex("_gf_cid")
    val probedCids = probeRows.map(_.getLong(cidIdx)).distinct.toSeq
    val prunedVecs =
      if (probedCids.isEmpty) index.ivf.indexed.filter(lit(false))
      else index.ivf.indexed.filter(col("_gf_cid").isin(probedCids: _*))
    val w = Window.partitionBy("_gf_qid")
      .orderBy(col("_gf_cos").desc, col("_gf_id"))
    prunedVecs.select(col("_gf_id"), col("_gf_v"))
      .join(broadcast(short), Seq("_gf_id"))
      .join(broadcast(qvecs), Seq("_gf_qid"))
      .withColumn("_gf_cos", GraftFunctions.vecCosine(col("_gf_v"), col("_gf_qv")))
      .withColumn("_gf_rank", row_number().over(w))
      .filter(col("_gf_rank") <= k)
      .select(col("_gf_qid").as("query_id"), col("_gf_id").as("neighbor_id"),
        col("_gf_rank").as("rank"),
        graft.Num.dround(col("_gf_cos"), 6).as("cosine"))
  }
}
