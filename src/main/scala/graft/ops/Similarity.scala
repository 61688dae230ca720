package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (ArrayType(FloatType)).
  *
  * Design for 100 TB:
  *  - Brute-force cosine top-k is the correctness baseline: a broadcast
  *    of the (tiny) query side against a scan of the corpus, finishing
  *    in TakeOrderedAndProject — one pass, no shuffle of the corpus.
  *  - IVF is the scale path: a deterministic "coarse quantizer" assigns
  *    every vector to its nearest centroid once (projection), queries
  *    probe only their nProbe nearest cells — at cluster scale the cell
  *    assignment is the partition key, so a probe touches few partitions.
  *  - SRP-LSH (signed random projections) is the near-dup path: sign-bit
  *    signatures + band-bucket shuffle, identical layout to MinHash LSH.
  *
  * All float math is upcast to double per element; sums that must be
  * hash-stable across engines go through integer quantization (see
  * dotQuant — floor(p·1e12 + 0.5) summed as BIGINT).
  */
object Similarity {

  /** Exact dot product in double — index-order accumulation. Native
    * expression (tight float loop); the zip_with/aggregate composition
    * computes the same value interpreted at ~100× the cost. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotf(a, b)

  /** Order-independent dot product, cross-engine hash-stable: each
    * double product p quantizes to floor(p·1e12 + 0.5) — three IEEE-754
    * ops every engine computes bit-identically — and the integers sum
    * exactly as BIGINT. Matches the DuckDB oracle
    * SUM(CAST(floor(x*y*1e12 + 0.5) AS BIGINT)) regardless of
    * evaluation order, at every magnitude (the DECIMAL(28,14)-cast
    * algebra this replaces hit DuckDB's double-rounding at exact-half
    * boundaries — PERF.md "Known corner"). Returns BIGINT; in cosine
    * ratios the 1e12 scales cancel, so cos = qdab/sqrt(qdaa·qdbb)
    * after double upcast. Native expression; [[dotQuantHof]] is the
    * executable spec. */
  def dotQuant(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotQuantD(a, b)

  /** The higher-order-function composition DotQuantD replicates —
    * kept as the executable specification for the equality test. */
  private[ops] def dotQuantHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * y.cast("double") * lit(1e12) + lit(0.5))),
      lit(0L),
      (acc, v) => acc + v)

  /** Brute-force top-k by cosine against one anchor vector. The anchor's
    * self-dot is computed once on the (single-row) broadcast side, not
    * re-derived per corpus row — same quantized sum, one less 64-element
    * fold per row. */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int): DataFrame = {
    val anchor = embeddings.filter(col(idCol) === anchorId)
      .select(col(vecCol).as("anchor_vec"),
        dotQuant(col(vecCol), col(vecCol)).cast("double").as("anchor_dd"))
    embeddings
      .join(broadcast(anchor))
      .select(col(idCol),
        (dotQuant(col(vecCol), col("anchor_vec")).cast("double") /
          sqrt(dotQuant(col(vecCol), col(vecCol)).cast("double") * col("anchor_dd")))
          .as("cos_sim"))
      .filter(col(idCol) =!= anchorId)
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch kNN: top-k by cosine for EVERY anchor in one corpus pass —
    * the serving-path shape (N queries amortize one scan). The anchor
    * set broadcasts; per-anchor top-k is computed in TWO window phases:
    * phase 1 ranks within (anchor, salt) so no single window partition
    * ever holds more than corpus/salts rows (a plain
    * partitionBy(anchor) window would concentrate the whole corpus
    * into nAnchors partitions at scale), phase 2 ranks the salts×k
    * survivors — exact, and skew-proof at 1000 executors. Quantized dots
    * + per-vector self-dots: same algebra as cosineTopK, oracle-exact. */
  def cosineTopKBatch(embeddings: DataFrame, idCol: String, vecCol: String,
      nAnchors: Int, k: Int, salts: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      dotQuant(col(vecCol), col(vecCol)).cast("double").as("dd"))
    val anchors = corpus.filter(col("id") < nAnchors)
      .select(col("id").as("anchor_id"), col("v").as("av"), col("dd").as("add"))
    val scored = corpus.join(broadcast(anchors))
      .filter(col("id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("id"),
        (dotQuant(col("v"), col("av")).cast("double") / sqrt(col("dd") * col("add")))
          .as("cos_sim"),
        (col("id") % salts).as("salt"))
    val w1 = Window.partitionBy(col("anchor_id"), col("salt"))
      .orderBy(col("cos_sim").desc, col("id"))
    val w2 = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("id"))
    scored.withColumn("r", row_number().over(w1)).filter(col("r") <= k)
      .withColumn("r2", row_number().over(w2)).filter(col("r2") <= k)
      .select(col("anchor_id"), col("id"), col("cos_sim"))
      .orderBy(col("anchor_id"), col("cos_sim").desc, col("id"))
  }

  /** SRP signature: `bits` sign bits of dot(v, plane_b) packed to
    * BIGINT; plane components are hashes of (b, i) mapped to [-1, 1),
    * recomputed on the fly — no broadcast state. Native expression. */
  def srpSignature(vec: Column, bits: Int): Column =
    graft.functions.NativeExprs.srpSig(vec, bits)

  /** SRP-LSH candidate pairs with exact cosine attached (no threshold):
    * band the signature, bucket-join, score candidates. Buckets larger
    * than `maxBucket` are dropped — same skew guard as Dedup.capBuckets;
    * members still pair via their other bands. */
  def srpCandidatePairs(embeddings: DataFrame, idCol: String, vecCol: String,
      bits: Int = 32, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val chunk = bits / bands
    // per-vector self-dot computed ONCE here (not per candidate pair —
    // pairs outnumber vectors quadratically within a bucket)
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      dot(col(vecCol), col(vecCol)).as("dd"))
    val sigs = vecs.select(col("id"), srpSignature(col("v"), bits).as("sig"))
    // ids only into the bucket aggregation; vectors re-joined after
    // dedup. ChunkSplit keeps the signature a once-per-row generator
    // input (see NativeExprs.ChunkSplit on the project-collapse trap).
    val banded = sigs.select(col("id"),
        posexplode(graft.functions.NativeExprs.chunkSplit(col("sig"), bands, chunk)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk_val")
    Dedup.bucketPairs(banded, Seq("band", "chunk_val"), maxBucket)
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("dd").as("dd_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("dd").as("dd_b")), Seq("id_b"))
      // double cosine: candidate scoring has no cross-engine oracle, and
      // Spark's index-order fold is deterministic run-to-run
      .withColumn("cos_sim",
        dot(col("v_a"), col("v_b")) / sqrt(col("dd_a") * col("dd_b")))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /** Chunk bits sized to the corpus: 2^chunkBits buckets per band, so
    * expected occupancy n / 2^chunkBits stays near `targetOccupancy`.
    * Fixed-width banding (the old 8-bit default) stops discriminating
    * once n >> buckets×occupancy — measured at 100× sf0.1 (~400k
    * vectors, 256 buckets/band): the candidate stream explodes and the
    * pipeline goes 686× the base wall-clock. With log₂-scaled bits it
    * is back to ~linear. Floor of 8 keeps small-corpus geometry (and
    * every sf0.01/sf0.1 output) EXACTLY as before; cap of 15 keeps
    * bands×bits ≤ 60 inside the 64-bit signature frame (beyond ~2M
    * vectors per partition-set, widen the signature to two longs or
    * add bands rather than raising occupancy).
    *
    * Occupancy target is SMALL on purpose: candidates grow as
    * n×occupancy/2 per band (quadratic within a bucket) — a target of
    * 200 measured 160M candidate cosines at 400k vectors (~100s);
    * 16 gives ~10M (~10s) with recall governed by the band count, not
    * the bucket size. */
  def srpChunkBitsFor(n: Long, targetOccupancy: Long = 16,
      minBits: Int = 8, maxBits: Int = 15): Int = {
    val needed = math.ceil(
      math.log(math.max(1L, n / math.max(1L, targetOccupancy)).toDouble) /
        math.log(2.0)).toInt
    needed.max(minBits).min(maxBits)
  }

  /** [[srpCandidatePairs]] with corpus-sized banding: one count() to
    * the driver (a long — model-sized state), then chunk bits chosen by
    * [[srpChunkBitsFor]]. This is the form a 100 TB deployment calls. */
  def srpCandidatePairsAuto(embeddings: DataFrame, idCol: String,
      vecCol: String, bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val chunkBits = srpChunkBitsFor(embeddings.count())
    srpCandidatePairs(embeddings, idCol, vecCol,
      bits = bands * chunkBits, bands = bands, maxBucket = maxBucket)
  }

  private def cosD(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Seed-free SRP signature — the cross-engine verification variant of
    * [[srpSignature]]: plane component (b, i) derives from md5("b:i")
    * (first 13 hex chars / 2^52, mapped to [-1, 1) — every step exact
    * in IEEE double, so any engine with md5 computes bit-identical
    * planes), and each plane dot is an order-independent quantized
    * BIGINT sum (like dotQuant), so the sign bits — and therefore the
    * packed signature — hash-match a DuckDB replay exactly. */
  def srpSigMd5(vec: Column, bits: Int, dims: Int): Column =
    graft.functions.NativeExprs.srpSigMd5D(vec, bits, dims)

  /** The higher-order-function composition SrpSigMd5D replicates —
    * kept (package-private) as the executable specification the
    * NativeExprsSpec equality test runs both forms against. */
  private[ops] def srpSigMd5Hof(vec: Column, bits: Int, dims: Int): Column = {
    def planeWeight(b: Int, i: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 13)
      (java.lang.Long.parseLong(hex, 16).toDouble / (1L << 52).toDouble) * 2.0 - 1.0
    }
    (0 until bits).map { b =>
      val plane = typedLit((1 to dims).map(i => planeWeight(b, i)))
      val s = aggregate(
        zip_with(vec, plane, (x, w) =>
          floor(x.cast("double") * w * lit(1e12) + lit(0.5))),
        lit(0L),
        (acc, v) => acc + v)
      when(s > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Cross-engine SRP candidate pairs: the [[srpCandidatePairs]] band→
    * bucket→score pipeline with md5-derived planes ([[srpSigMd5]]) and
    * quantized cosine scoring, so EVERY stage — signature bits, banding,
    * bucket cap, pair set, scores — replays bit-identically in any SQL
    * engine with md5. The oracle-verification twin of the xxhash64
    * production path (same algebra, same plan shape). */
  def srpCandidatePairsMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int, bands: Int, maxBucket: Int = 1000): DataFrame = {
    val chunk = bits / bands
    // per-vector quantized self-dot joined in once (upcast to double —
    // the per-pair combine dab / sqrt(daa * dbb) is the same IEEE double
    // arithmetic the oracle computes); candidate scoring is one
    // 64-element fold per pair instead of three.
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      dotQuant(col(vecCol), col(vecCol)).cast("double").as("dd"))
    val sigs = vecs.select(col("id"), srpSigMd5(col("v"), bits, dims).as("sig"))
    val banded = sigs.select(col("id"),
        posexplode(graft.functions.NativeExprs.chunkSplit(col("sig"), bands, chunk)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk_val")
    Dedup.bucketPairs(banded, Seq("band", "chunk_val"), maxBucket)
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a"),
        col("dd").as("dd_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b"),
        col("dd").as("dd_b")), Seq("id_b"))
      .withColumn("cos_sim",
        dotQuant(col("v_a"), col("v_b")).cast("double") /
          sqrt(col("dd_a") * col("dd_b")))
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  // ---------------------------------------------------------------------
  // IVF: the coarse quantizer lives on the DRIVER (k centroids ≈ a few KB
  // — the same layout as Spark MLlib's KMeans, whose cluster centers are
  // driver state broadcast into a map-side assignment). Consequences:
  //  - centroid cardinality is a fixed parameter, independent of corpus
  //    size — broadcasting never outgrows an executor at 100×;
  //  - cell assignment is a pure per-row PROJECTION over a literal
  //    centroid array: no join, no shuffle, vectors never leave their
  //    input partition;
  //  - each Lloyd iteration scans the corpus exactly once, and collecting
  //    the k updated centroids cuts the lineage between iterations (no
  //    recursive recompute of prior assignments).
  // ---------------------------------------------------------------------

  /** Driver-side centroid: (cent_id, vector, L2 norm). The norm is
    * precomputed in index order (matching NativeExprs.dotf) so assignment
    * does one dot product per centroid, not three. */
  private type Cent = (Long, Seq[Float], Double)

  private def l2(v: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  private def driverCos(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s / (l2(a) * l2(b))
  }

  /** Deterministic, corpus-size-independent seeds: the `k` vectors whose
    * xxhash64(id) sorts first — a uniform hash-ordered sample (no RNG, so
    * reproducible under retries). TakeOrderedAndProject: one corpus pass,
    * k rows to the driver, no full shuffle. */
  private def seedCents(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Cent] =
    embeddings.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(k)
      .collect()
      .map(r => { val v = r.getSeq[Float](1); (r.getLong(0), v, l2(v)) })
      .sortBy(_._1)

  /** Nearest-centroid cell id as a pure projection: score every centroid
    * in a `transform` over one array literal, argmax via `array_max` on
    * struct(cos, -cent_id) (lexicographic — highest cos, then lowest id).
    * Zero shuffles; the corpus never moves. */
  private def cellExpr(cents: Array[Cent], vec: Column): Column = {
    val centLit = typedLit(cents.toSeq)        // array<struct<id,vec,norm>>
    val vnorm = sqrt(dot(vec, vec))
    val scored = transform(centLit, c => struct(
      (dot(vec, c.getField("_2")) / (vnorm * c.getField("_3"))).as("c"),
      (-c.getField("_1")).as("neg_id")))
    -array_max(scored).getField("neg_id")
  }

  /** (id, cell_id, vec) with cells from a driver-side centroid table.
    * (PQ's L2 nearest-code assignment lives in the native
    * [[graft.functions.NativeExprs.PqCodes]] kernel instead.) */
  private def assignedDf(embeddings: DataFrame, cents: Array[Cent],
      idCol: String, vecCol: String): DataFrame =
    embeddings.select(col(idCol),
      cellExpr(cents, col(vecCol)).as("cell_id"), col(vecCol))

  /** One corpus scan per Lloyd iteration. Update = per-dimension mean as
    * an exact DECIMAL sum (double sums depend on partition merge order;
    * decimal addition is associative, so centroids are bit-stable however
    * tasks are scheduled). The k results are collected — tiny — which is
    * the lineage cut between iterations. Empty cells drop out. */
  private def lloyd(embeddings: DataFrame, idCol: String, vecCol: String,
      seeds: Array[Cent], iters: Int): Array[Cent] = {
    var cur = seeds
    (1 to iters).foreach { _ =>
      // ONE aggregation to (cell, pos, mean) — k·dims rows, model-sized
      // — collected flat; the driver assembles the mean vectors
      // pos-ascending (same order the former
      // array_sort(collect_list(struct(pos, m))) stage produced, so
      // centroids are bit-identical). The second groupBy bought nothing
      // but wire format — dropping it removes one exchange per Lloyd
      // iteration (the pqTrainCodebooks pattern, r15).
      val rows = assignedDf(embeddings, cur, idCol, vecCol)
        .select(col("cell_id"), posexplode(col(vecCol)))
        .groupBy(col("cell_id"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double") / count(lit(1)).cast("double")).cast("float").as("m"))
        .collect()
      cur = rows.groupBy(_.getLong(0)).toArray
        .map { case (cid, rs) =>
          val v = rs.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq
          (cid, v, l2(v))
        }
        .sortBy(_._1)
    }
    cur
  }

  private def centsToDf(embeddings: DataFrame, cents: Array[Cent]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    cents.toSeq.map { case (id, v, _) => (id, v) }.toDF("cent_id", "cent_vec")
  }

  /** Hash-ordered seed sample as a (cent_id, cent_vec) DataFrame —
    * the iters=0 quantizer, exposed for tests/inspection. */
  def seedCentroidsDf(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    centsToDf(embeddings, seedCents(embeddings, idCol, vecCol, k))

  /** Nearest-centroid assignment (id, cell_id, vec). `centroids` is
    * materialized to the driver (it must be quantizer-sized) and applied
    * as a shuffle-free projection. */
  def assignCells(embeddings: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.select(col("cent_id").cast("long"), col("cent_vec"))
      .collect()
      .map(r => { val v = r.getSeq[Float](1); (r.getLong(0), v, l2(v)) })
      .sortBy(_._1)
    assignedDf(embeddings, cents, idCol, vecCol)
  }

  /** Lloyd-iteration k-means over the embedding corpus, distributed and
    * RUN-TO-RUN DETERMINISTIC (hash-ordered seeds, decimal means). `k` is
    * a fixed parameter — centroid count never scales with the corpus. */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int = 64, iters: Int = 2): DataFrame =
    centsToDf(embeddings,
      lloyd(embeddings, idCol, vecCol, seedCents(embeddings, idCol, vecCol, k), iters))

  /** IVF-style ANN: a fixed-`nCells` quantizer (k-means when `kmeansIters`
    * > 0, else the hash-ordered seed sample); the query probes only its
    * `nProbe` nearest cells, selected on the driver against the
    * driver-held centroids. The whole query is ONE corpus scan — a
    * shuffle-free projection + cell filter + TakeOrderedAndProject. At
    * persisted scale, write the assignment partitioned by cell_id and the
    * probe filter prunes partitions (IvfPartitionSpec proves it). */
  /** Materialize the IVF index: cell assignment written PARTITIONED BY
    * cell_id (plus the centroid table alongside). Build once, probe
    * many — the on-disk layout where a probe's cell filter becomes
    * partition PRUNING at the scan (files of unprobed cells are never
    * opened; IvfPartitionSpec pins the plan). Returns the centroids. */
  def buildIvfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 64, kmeansIters: Int = 0): DataFrame = {
    val seeds = seedCents(embeddings, idCol, vecCol, nCells)
    val cents =
      if (kmeansIters > 0) lloyd(embeddings, idCol, vecCol, seeds, kmeansIters)
      else seeds
    assignedDf(embeddings, cents, idCol, vecCol)
      .write.partitionBy("cell_id").mode("overwrite").parquet(s"$path/cells")
    val centDf = centsToDf(embeddings, cents)
    centDf.write.mode("overwrite").parquet(s"$path/centroids")
    centDf
  }

  /** Probe a persisted IVF index: nProbe nearest cells chosen against
    * the (tiny) centroid table, then ONE pruned scan of those cells'
    * partitions ending in TakeOrderedAndProject. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, anchorVec: Seq[Float], k: Int,
      nProbe: Int = 2): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probeIds = cents
      .map { case (cid, v) => (driverCos(anchorVec, v), cid) }
      .sortBy { case (c, cid) => (-c, cid) }
      .take(nProbe).map(_._2)
    val anchorLit = typedLit(anchorVec)
    spark.read.parquet(s"$path/cells")
      .filter(col("cell_id").isInCollection(probeIds))
      .select(col(idCol), cosD(col(vecCol), anchorLit).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int, nCells: Int = 64, nProbe: Int = 2,
      kmeansIters: Int = 0): DataFrame = {
    val seeds = seedCents(embeddings, idCol, vecCol, nCells)
    val cents =
      if (kmeansIters > 0) lloyd(embeddings, idCol, vecCol, seeds, kmeansIters)
      else seeds

    // the query vector: a single-row point lookup, then a literal
    val anchorVec = embeddings.filter(col(idCol) === anchorId)
      .select(col(vecCol)).head().getSeq[Float](0)
    val probeIds = cents
      .map { case (cid, v, _) => (driverCos(anchorVec, v), cid) }
      .sortBy { case (c, cid) => (-c, cid) }
      .take(nProbe).map(_._2)
    val anchorLit = typedLit(anchorVec)

    assignedDf(embeddings, cents, idCol, vecCol)
      .filter(col("cell_id").isInCollection(probeIds))
      .select(col(idCol), cosD(col(vecCol), anchorLit).as("cos_sim"))
      .filter(col(idCol) =!= anchorId)
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Oracle-verification twin of [[ivfTopK]] (same pattern as
    * [[srpCandidatePairsMd5]]): identical IVF geometry — fixed-`nCells`
    * seed quantizer, nearest-cell assignment, `nProbe` cell prune,
    * in-cell cosine top-k excluding the anchor — but with md5-ordered
    * seeds (xxhash64 has no DuckDB counterpart) and the quantized-dot
    * cosine at EVERY stage (assignment argmax, probe selection, final
    * scores), so the full pipeline replays bit-identically in SQL.
    * Probe cells come from the same scored relation as the assignment
    * (the anchor's own rows), not a driver-side recomputation — one
    * arithmetic path, zero JVM/SQL drift surface. */
  def ivfTopKMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val vecs = quantVecs(embeddings, idCol, vecCol)
    probeTopKMd5(vecs, collectQCents(md5SeedCents(vecs, nCells)), idCol, anchorId, k, nProbe)
  }

  /** (graft_id, graft_v, graft_dd): the twin's working relation. */
  private def quantVecs(embeddings: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    embeddings.select(col(idCol).cast("long").as("graft_id"),
      col(vecCol).as("graft_v"),
      dotQuant(col(vecCol), col(vecCol)).cast("double").as("graft_dd"))

  /** md5-hex-ordered seed quantizer as (cent_id, cent_v, cent_dd). */
  private def md5SeedCents(vecs: DataFrame, nCells: Int): DataFrame =
    vecs
      .orderBy(md5(col("graft_id").cast("string")), col("graft_id"))
      .limit(nCells)
      .select(col("graft_id").as("cent_id"), col("graft_v").as("cent_v"),
        col("graft_dd").as("cent_dd"))

  /** Driver-side replica of [[graft.functions.NativeExprs.DotQuantD]]
    * — the SAME IEEE sequence per element (double multiply, ·1e12,
    * +0.5, floor, long cast, exact long sum), applied to model-sized
    * rows already on the driver. Keeping the twins bit-identical
    * under the plan change is exactly this kernel equality. */
  private def dotQuantJ(a: Seq[Float], b: Seq[Float]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      val p = a(i).toDouble * b(i).toDouble
      acc += math.floor(p * 1e12 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** Driver replica of [[graft.functions.NativeExprs.L2QuantD]]. */
  private def l2QuantJ(a: Seq[Float], b: Seq[Float]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      acc += math.floor(d * d * 1e12 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** Collect a (cent_id, cent_v, cent_dd) centroid relation to the
    * driver — the quantizer is model-sized by construction (≤ nCells
    * rows), the same fixed-k collect the production path has always
    * done. cent_id-sorted for a deterministic literal layout. */
  private def collectQCents(cents: DataFrame): Array[Cent] =
    cents.select(col("cent_id").cast("long"), col("cent_v"), col("cent_dd"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getDouble(2)))
      .sortBy(_._1)

  /** struct() with LITERAL field names (CreateNamedStruct directly):
    * `.as(...)` aliases inside a lambda are stripped by alias cleanup
    * when the enclosing projection also carries a generator
    * (posexplode), leaving colN names that break getField — literal
    * names survive every resolution path. */
  private def namedStruct2(n1: String, c1: Column, n2: String,
      c2: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(CreateNamedStruct(Seq(
      Literal(n1), ColumnBridge.expression(c1),
      Literal(n2), ColumnBridge.expression(c2))))
  }

  /** Nearest cell by quantized-dot cosine as a PURE PROJECTION over a
    * driver-held centroid literal — the md5-twin analog of [[cellExpr]].
    * argmax via array_max on struct(cos, -cent_id) is lexicographic:
    * highest cosine, then lowest centroid id — exactly the
    * max(struct(graft_cos, -cent_id)) aggregate this replaces (Spark's
    * struct ordering and array_max share one TypeUtils ordering, NaN
    * greatest, so tie and NaN behavior are identical). Replaces a
    * corpus × nCells crossJoin + shuffle aggregate + corpus self-join:
    * zero shuffles, the corpus never moves (guide §2.3/§2.4). */
  private def cellExprQuant(cents: Array[Cent], vec: Column,
      dd: Column): Column =
    graft.functions.NativeExprs.nearestCellQuant(vec, dd, cents.toSeq)

  /** The HOF composition [[graft.functions.NativeExprs.NearestCellQuant]]
    * replicates — kept as the executable specification for the
    * SimilaritySpec equality test (the interpreted transform/array_max
    * chain allocates a struct per centroid per row; the kernel is one
    * primitive loop). */
  private[ops] def cellExprQuantHof(cents: Array[Cent], vec: Column,
      dd: Column): Column = {
    val centLit = typedLit(cents.toSeq)      // array<struct<id,vec,dd>>
    val scored = transform(centLit, c => namedStruct2(
      "c", dotQuant(vec, c.getField("_2")).cast("double") /
        sqrt(dd * c.getField("_3")),
      "neg_id", -c.getField("_1")))
    -array_max(scored).getField("neg_id")
  }

  /** The HOF composition [[graft.functions.NativeExprs.PqCodesQuant]]
    * replicates — the executable spec for the parity test. */
  private[ops] def pqCodesQuantHof(vec: Column,
      books: Seq[Seq[(Long, Seq[Float])]], dsub: Int): Column =
    array(books.indices.map { s =>
      val bookLit = typedLit(books(s))
      array_min(transform(bookLit, c => namedStruct2(
        "d", graft.functions.NativeExprs.l2QuantD(
          slice(vec, s * dsub + 1, dsub), c.getField("_2")),
        "cent_id", c.getField("_1")))).getField("cent_id")
    }: _*)

  /** Spec-visible handles for the parity test. */
  private[ops] def cellAssignPair(embeddings: DataFrame, idCol: String,
      vecCol: String, nCells: Int): (DataFrame, DataFrame) = {
    val vecs = quantVecs(embeddings, idCol, vecCol)
    val cents = collectQCents(md5SeedCents(vecs, nCells))
    (vecs.select(col("graft_id"),
        cellExprQuant(cents, col("graft_v"), col("graft_dd")).as("cell_id")),
      vecs.select(col("graft_id"),
        cellExprQuantHof(cents, col("graft_v"), col("graft_dd")).as("cell_id")))
  }

  /** Driver-side probe-cell selection: the anchor row scored against
    * the driver-held centroids with [[dotQuantJ]] — bit-identical to
    * the scored-relation filter + ORDER BY cos DESC, cent_id LIMIT
    * nProbe it replaces (java.lang.Double.compare orders NaN greatest,
    * matching Spark's DESC NaN-first; +0.0 normalization matches
    * Spark's -0.0 == 0.0). */
  private def probeCellsJ(cents: Array[Cent], anchorV: Seq[Float],
      anchorDd: Double, nProbe: Int): Seq[Long] =
    cents.map { case (cid, cv, cdd) =>
        (dotQuantJ(cv, anchorV).toDouble / math.sqrt(cdd * anchorDd) + 0.0, cid)
      }
      .sorted(new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val c = java.lang.Double.compare(b._1, a._1) // cos DESC, NaN first
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      })
      .take(nProbe).map(_._2).toSeq

  /** The shared probe/top-k tail of both twins: assign cells, pick the
    * anchor's nProbe best cells, score the probed cells' vectors
    * against the anchor, top-k.
    *
    * Optimization-round shape (r15): the centroid relation is
    * model-sized by construction, so it collects to the driver
    * (exactly like the production path's [[seedCents]]/[[lloyd]]
    * results always have) and assignment becomes the ZERO-SHUFFLE
    * projection [[cellExprQuant]]; probe cells are picked on the
    * driver by the bit-identical [[probeCellsJ]]; the anchor attaches
    * as a literal. The whole tail is ONE corpus scan ending in
    * TakeOrderedAndProject — it replaces a corpus × nCells crossJoin,
    * a shuffled argmax aggregate, a corpus self-join on graft_id and a
    * broadcast anchor cross (plan evidence: plans/r15/
    * embed_ivf_topk_md5_{before,after}.txt). Every arithmetic step is
    * the same IEEE/BIGINT sequence, so results — and the DuckDB
    * oracle hashes — are unchanged. */
  private def probeTopKMd5(vecs: DataFrame, centArr: Array[Cent], idCol: String,
      anchorId: Long, k: Int, nProbe: Int): DataFrame = {
    val anchorRow = vecs.filter(col("graft_id") === anchorId)
      .select(col("graft_v"), col("graft_dd")).collect().headOption
    anchorRow match {
      case None =>
        // anchor absent from the corpus: the scored-relation probe
        // this replaces selected zero cells — preserve the empty result
        vecs.filter(lit(false))
          .select(col("graft_id").as(idCol), lit(0.0).as("cos_sim"))
      case Some(r) =>
        val anchorV = r.getSeq[Float](0)
        val anchorDd = r.getDouble(1)
        val probeCells = probeCellsJ(centArr, anchorV, anchorDd, nProbe)
        vecs
          .withColumn("cell_id",
            cellExprQuant(centArr, col("graft_v"), col("graft_dd")))
          .filter(col("cell_id").isInCollection(probeCells))
          .filter(col("graft_id") =!= anchorId)
          .select(col("graft_id").as(idCol),
            (dotQuant(col("graft_v"), typedLit(anchorV)).cast("double") /
              sqrt(col("graft_dd") * lit(anchorDd))).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col(idCol).asc)
          .limit(k)
    }
  }

  /** Oracle-verification twin of the k-means IVF path
    * ([[ivfTopK]] with kmeansIters > 0): md5-ordered seeds, ONE Lloyd
    * iteration whose mean update is integer-quantized — per-dimension
    * sum of floor(x·1e7 + 0.5) as BIGINT (order-independent, exact),
    * divided back and rounded to FLOAT, every step an operation both
    * engines compute bit-identically (the production path's
    * DECIMAL(28,14) mean is engine-exact too but its float→decimal
    * cast can tie at scale-14 halves, the r9 "known corner" class) —
    * then the same assignment/probe/top-k tail as [[ivfTopKMd5]].
    * Proves the distributed Lloyd update cross-engine, the one IVF
    * stage the plain twin leaves unproven. */
  def ivfKmeansMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val vecs = quantVecs(embeddings, idCol, vecCol)
    // seed assignment as the zero-shuffle projection (r15): the seeds
    // collect (TakeOrderedAndProject, nCells rows) and every vector
    // picks its cell inside one projection — the crossJoin + shuffled
    // argmax + corpus self-join this replaces carried the whole corpus
    // through nCells× row inflation and two exchanges per iteration
    val seedArr = collectQCents(md5SeedCents(vecs, nCells))
    // Lloyd update: quantized mean per (cell, dim); empty cells drop
    // out exactly like the production update. Division order is
    // (sum_q / n) / 1e7, matching the SQL text.
    // cell_id materializes in its OWN projection BELOW the generator:
    // a generator-bearing select puts the remaining expressions in a
    // Project ABOVE Generate, which would re-evaluate the assignment
    // once per exploded element (the ChunkSplit lesson — measured 64×
    // here); as a pass-through attribute it computes once per vector
    val seedCell = cellExprQuant(seedArr, col("graft_v"), col("graft_dd"))
    val means = vecs
      .select(seedCell.as("cell_id"), col("graft_v"))
      .select(col("cell_id"), posexplode(col("graft_v")))
      .groupBy(col("cell_id"), col("pos"))
      .agg(((sum(floor(col("col").cast("double") * lit(1e7) + lit(0.5))
          .cast("long")).cast("double") / count(lit(1)).cast("double")) /
        lit(1e7)).cast("float").as("m"))
    val cents1 = means
      .groupBy(col("cell_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cent_v"))
      .select(col("cell_id").as("cent_id"), col("cent_v"),
        dotQuant(col("cent_v"), col("cent_v")).cast("double").as("cent_dd"))
    // the (≤ nCells-row) updated centroids are collected — that
    // collect IS the materialization the former Lineage.cut
    // provided, one job instead of two, and the seed model's last use
    probeTopKMd5(vecs,
      graft.functions.NativeExprs.withModels(seedCell)(collectQCents(cents1)),
      idCol, anchorId, k, nProbe)
  }

  /** Incremental IVF index maintenance — the ANN analog of
    * `Retrieval.mergeBm25Index`: assign a NEW batch of vectors against
    * the index's STANDING quantizer (no retrain — the production
    * incremental pattern: the quantizer is a rarely-retrained model
    * artifact, daily ingest only assigns and appends) and append the
    * rows into the same partitioned-by-cell layout. Because cell
    * assignment is a pure per-row function of (vector, quantizer),
    * `build(A); merge(B)` yields cells IDENTICAL to assigning A ∪ B
    * against A's centroids — the additivity contract that makes the
    * incremental path verifiable (pinned in SimilaritySpec; the md5
    * twin below carries the cross-engine hash proof). Doc ids must be
    * new to the index, as with the BM25 merge. */
  def mergeIvfIndex(newEmbeddings: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val centDf = spark.read.parquet(s"$path/centroids")
    assignCells(newEmbeddings, centDf, idCol, vecCol)
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("append").parquet(s"$path/cells")
  }

  /** The persisted md5-twin IVF index: same cells-partitioned layout
    * as [[buildIvfIndex]], but md5-ordered seeds and the quantized-dot
    * cosine ([[ivfTopKMd5]]'s geometry), so the ENTIRE persisted
    * build → merge → probe path replays bit-identically in DuckDB.
    * Cells carry (graft_id, graft_v, graft_dd); parquet float32
    * round-trips bit-exactly, so the stored self-dot equals the
    * recomputed one. */
  def buildIvfIndexMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int): Unit = {
    val vecs = quantVecs(embeddings, idCol, vecCol)
    // seeds collect to the driver (model-sized, one TakeOrdered job);
    // the centroid table writes back from the driver-local copy — one
    // file, the model-artifact convention of buildPqIndex — and the
    // SAME copy drives the zero-shuffle cell assignment below (the
    // former Lineage.cut + per-branch broadcast is gone)
    val centArr = collectQCents(md5SeedCents(vecs, nCells))
    val spark = embeddings.sparkSession
    import spark.implicits._
    centArr.toSeq.toDF("cent_id", "cent_v", "cent_dd")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    writeIvfCellsMd5(vecs, centArr, path, "overwrite")
  }

  /** Fold a new batch into the persisted md5-twin index: assign against
    * the standing centroid table, append into the cell layout. */
  def mergeIvfIndexMd5(newEmbeddings: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    val centArr = collectQCents(spark.read.parquet(s"$path/centroids"))
    writeIvfCellsMd5(quantVecs(newEmbeddings, idCol, vecCol), centArr, path,
      "append")
  }

  /** Cell assignment as the [[cellExprQuant]] projection: the batch is
    * scanned ONCE, never shuffled except by the layout repartition —
    * replaces crossJoin × nCells + shuffled argmax + a batch self-join
    * on graft_id (plans/r15/embed_ivf_merge_{before,after}.txt). */
  private def writeIvfCellsMd5(vecs: DataFrame, cents: Array[Cent],
      path: String, mode: String): Unit =
    vecs
      .select(col("graft_id"), col("graft_v"), col("graft_dd"),
        cellExprQuant(cents, col("graft_v"), col("graft_dd")).as("cell_id"))
      .repartition(col("cell_id")) // one writer, one file per cell
      .write.partitionBy("cell_id").mode(mode).parquet(s"$path/cells")

  /** Probe the persisted md5-twin index: nProbe best cells by the
    * quantized-dot anchor×centroid cosine (same arithmetic as
    * [[probeTopKMd5]]'s probe selection), then a partition-PRUNED scan
    * of those cells' files, quantized cosine top-k. After a merge this
    * equals the single-build probe bitwise (assignment is pure), which
    * is exactly what the DuckDB oracle replays. */
  def ivfIndexProbeMd5(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, anchorId: Long, k: Int, nProbe: Int): DataFrame = {
    val cells = spark.read.parquet(s"$path/cells")
    // materialize the 1-row anchor eagerly (it was driver-broadcast
    // anyway): an anchorId absent from the index must be an error, not
    // an empty filter that silently returns an empty top-k
    val anchorRows = cells.filter(col("graft_id") === anchorId)
      .select(col("graft_v"), col("graft_dd")).collect()
    require(anchorRows.nonEmpty,
      s"ivfIndexProbeMd5: anchor id $anchorId not found in index at $path")
    val anchorV = anchorRows.head.getSeq[Float](0)
    val anchorDd = anchorRows.head.getDouble(1)
    // probe-cell selection on the driver against the model-sized
    // centroid table (bit-identical arithmetic, see probeCellsJ) — the
    // cell filter is now a LITERAL predicate on the partition column,
    // so the scan statically prunes to the nProbe cells' files (the
    // broadcast-join form relied on reading all partitions)
    val centArr = collectQCents(spark.read.parquet(s"$path/centroids"))
    val probeCells = probeCellsJ(centArr, anchorV, anchorDd, nProbe)
    cells
      .filter(col("cell_id").cast("long").isInCollection(probeCells))
      .filter(col("graft_id") =!= anchorId)
      .select(col("graft_id").as(idCol),
        (dotQuant(col("graft_v"), typedLit(anchorV)).cast("double") /
          sqrt(col("graft_dd") * lit(anchorDd))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Oracle-verification twin of the PQ/ADC path ([[pqTopK]] family):
    * md5-ordered seed vectors supply every subspace's initial
    * codebook, ONE Lloyd iteration with the integer-quantized mean
    * update (floor(x·1e7 + 0.5) sums, same as [[ivfKmeansMd5]]), and
    * ALL distances — assignment, encode, the ADC table — as the
    * integer-quantized L2 Σ floor((x−c)²·1e12 + 0.5): after
    * quantization the entire pipeline is exact BIGINT arithmetic
    * (argmin ties break on lowest code id), so codebook training,
    * encoding, and ADC scores replay bit-identically in SQL. Returns
    * (idCol, adc_q BIGINT): the quantized ADC distance, ascending. */
  def pqTopKMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int, m: Int = 8, ksub: Int = 16,
      dims: Int = 64): DataFrame = {
    val dsub = dims / m
    val vecs = embeddings.select(col(idCol).cast("long").as("graft_id"),
      col(vecCol).as("graft_v"))
    // md5-ordered seed vectors: model-sized (ksub rows) — collected,
    // and the per-subspace codebooks slice out on the driver. Code ids
    // stay the seed row ids, exactly as the DataFrame-shaped seeds
    // carried them (argmin ties still break on lowest id).
    val seedRows = vecs
      .orderBy(md5(col("graft_id").cast("string")), col("graft_id"))
      .limit(ksub)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val books0: Array[Array[(Long, Seq[Float])]] =
      Array.tabulate(m)(s => seedRows.map { case (id, v) =>
        (id, v.slice(s * dsub, (s + 1) * dsub)) })
    // argmin (quantized L2, code id) per (vector, subspace) as ONE
    // native kernel per row (NativeExprs.PqCodesQuant — exact BIGINT
    // distances, ties to the lowest code id; pqCodesQuantHof is the
    // executable spec). The former shape carried the corpus through a
    // ksub× broadcast-join row inflation plus a shuffled argmin TWICE
    // (assign0 and the final encode) and re-joined the corpus to
    // itself for the Lloyd update; all of that is gone
    // (plans/r15/embed_pq_topk_md5_{before,after}.txt).
    def codesCol(books: Array[Array[(Long, Seq[Float])]]): Column =
      graft.functions.NativeExprs.pqCodesQuant(col("graft_v"),
        books.toSeq.map(_.toSeq), dsub)
    // one quantized-mean Lloyd update per (subspace, code, dim): ONE
    // aggregation to model-sized rows, collected flat; the driver
    // assembles the per-code mean vectors pos-ascending — the same
    // driver-assembly pattern pqTrainCodebooks already uses. The
    // (sub, pos-in-slice, value) triples equal the former
    // subSlices + posexplode stream: element pos of slice s is element
    // s·dsub + pos of the full vector.
    // graft_codes materializes BELOW the generator (the ChunkSplit
    // lesson, see ivfKmeansMd5): in the same select as posexplode it
    // would re-evaluate all m·ksub argmin distances per exploded element
    val codes0 = codesCol(books0)
    val updated = graft.functions.NativeExprs.withModels(codes0)(vecs
      .select(codes0.as("graft_codes"), col("graft_v"))
      .select(col("graft_codes"), posexplode(col("graft_v")))
      .select((col("pos") / lit(dsub)).cast("int").as("graft_sub"),
        element_at(col("graft_codes"),
          (col("pos") / lit(dsub)).cast("int") + 1).as("cent_id"),
        (col("pos") % lit(dsub)).as("pos"), col("col"))
      .groupBy(col("graft_sub"), col("cent_id"), col("pos"))
      .agg(((sum(floor(col("col").cast("double") * lit(1e7) + lit(0.5))
          .cast("long")).cast("double") / count(lit(1)).cast("double")) /
        lit(1e7)).cast("float").as("mval"))
      .collect())
    val books1: Array[Array[(Long, Seq[Float])]] = {
      val bySub = updated.groupBy(_.getInt(0))
      Array.tabulate(m)(s =>
        bySub.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getLong(1)).toArray
          .map { case (cid, rows) =>
            (cid, rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toSeq) }
          .sortBy(_._1))
    }
    // the anchor: a 1-row point lookup; an absent anchor produced an
    // empty ADC side (and so an empty top-k) in the join form —
    // preserve that
    val anchorRows = vecs.filter(col("graft_id") === anchorId)
      .select(col("graft_v")).collect()
    if (anchorRows.isEmpty) {
      vecs.filter(lit(false))
        .select(col("graft_id").as(idCol), lit(0L).as("adc_q"))
    } else {
      val anchorV = anchorRows.head.getSeq[Float](0)
      // ADC table on the driver: quantized L2 of the anchor's slice to
      // every (sub, code) — l2QuantJ is the driver replica of the
      // L2QuantD kernel, so the table is bit-identical to the former
      // broadcast-join ADC side
      val adcMaps: Array[Map[Long, Long]] = Array.tabulate(m) { s =>
        val as = anchorV.slice(s * dsub, (s + 1) * dsub)
        books1(s).map { case (cid, cv) => cid -> l2QuantJ(as, cv) }.toMap
      }
      // adc_q = Σ_s adc(s, code_s): m literal-map lookups per row,
      // summed as BIGINT — replaces codes ⋈ adc + a corpus-wide
      // groupBy(graft_id) sum
      val adcSum = (0 until m).map(s =>
        element_at(typedLit(adcMaps(s)), element_at(col("graft_codes"), s + 1)))
        .reduce(_ + _)
      vecs.filter(col("graft_id") =!= anchorId)
        .select(col("graft_id"), codesCol(books1).as("graft_codes"))
        .select(col("graft_id").as(idCol), adcSum.as("adc_q"))
        .orderBy(col("adc_q").asc, col(idCol).asc)
        .limit(k)
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster the embedding corpus, then mark within-cluster pairs whose
    * cosine exceeds `simThreshold` as semantic duplicates and keep one
    * representative per duplicate group — the embedding-space analog of
    * MinHash near-dup removal, and the paper's recipe for pruning
    * web-scale pretraining data.
    *
    * This is the oracle-verifiable twin form (the md5 convention of
    * [[ivfTopKMd5]]): md5-ordered seed quantizer, quantized-dot cosine
    * at both stages, so DuckDB replays clustering, pairing, and the
    * keep decision bit-identically. Keep policy: lowest id per
    * above-threshold pair survives (the paper keeps the lowest
    * centroid-similarity member; the id rule is the repo's
    * deterministic dedup convention — documented divergence).
    *
    * Scale shape: pairing is confined WITHIN clusters — the corpus
    * shuffles once on cell_id, and the quadratic stage is bounded by
    * cluster size, capped at `maxCluster` (the LSH skew guard:
    * a degenerate cluster of m near-identical rows would emit m²/2
    * pairs on one reducer; capped clusters keep their rows, they just
    * skip pairing). Output: (idCol, cell_id, is_dup) per input row.
    */
  def semDeDupMd5(embeddings: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, simThreshold: Double,
      maxCluster: Int = 1000): DataFrame = {
    val vecs = quantVecs(embeddings, idCol, vecCol)
    // cluster assignment as the zero-shuffle projection (r15): seeds
    // collect (model-sized), every vector picks its cell inside one
    // projection — replaces crossJoin × nClusters + shuffled argmax +
    // a corpus self-join on graft_id. The cluster-size filter side is
    // ≤ nClusters rows by construction: broadcast it explicitly so the
    // corpus is never shuffled for it at any scale.
    val seedArr = collectQCents(md5SeedCents(vecs, nClusters))
    val m = vecs.withColumn("cell_id",
      cellExprQuant(seedArr, col("graft_v"), col("graft_dd")))
    val sized = m.join(
      broadcast(m.groupBy(col("cell_id")).agg(count(lit(1)).as("graft_n"))
        .filter(col("graft_n").between(2, maxCluster))
        .select(col("cell_id"))),
      Seq("cell_id"))
    val a = sized.select(col("cell_id"), col("graft_id").as("id_a"),
      col("graft_v").as("v_a"), col("graft_dd").as("dd_a"))
    val b = sized.select(col("cell_id"), col("graft_id").as("id_b"),
      col("graft_v").as("v_b"), col("graft_dd").as("dd_b"))
    val dups = a.join(b, Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("graft_cos",
        dotQuant(col("v_a"), col("v_b")).cast("double") /
          sqrt(col("dd_a") * col("dd_b")))
      .filter(col("graft_cos") >= simThreshold)
      .select(col("id_b").as("graft_id")).distinct()
    m.select(col("graft_id"), col("cell_id"))
      .join(dups.withColumn("is_dup", lit(true)), Seq("graft_id"), "left")
      .select(col("graft_id").as(idCol), col("cell_id"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5) ∈ [-127, 127] — the 4×
    * storage/bandwidth cut (float32 → int8) every billion-vector ANN
    * corpus applies before indexing. floor(u + 0.5) instead of round():
    * identical in every engine (round() half-rule conventions differ),
    * so the quantized values are bit-reproducible anywhere — the DuckDB
    * oracle replays them exactly. Pure projection, no shuffle; the
    * 1e-30 floor makes all-zero vectors quantize to zeros instead of
    * NaN on any engine. */
  def quantizeInt8(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    val scale = greatest(
      array_max(transform(xd, x => abs(x))) / lit(127.0), lit(1e-30))
    embeddings
      .select(col(idCol), xd.as("xd"), scale.as("scale"))
      .select(col(idCol), col("scale"),
        transform(col("xd"),
          x => floor(x / col("scale") + lit(0.5)).cast("int")).as("q"))
  }

  // ---------------------------------------------------------------------
  // Product quantization (PQ): the vector splits into `m` contiguous
  // subvectors; per subspace an L2 k-means over the SUB-vectors gives a
  // `ksub`-entry codebook; a vector encodes as m small codes (64 floats
  // = 256 B → 8 codes = 8 B at ksub ≤ 256). Query scoring is Asymmetric
  // Distance Computation (ADC): the query precomputes dot(q_s, c) and
  // ‖c‖² for every (subspace, centroid) — an m×ksub table, model-sized,
  // shipped as a literal — and a candidate's approximate cosine is m
  // table lookups summed, no decompression and no per-pair float-vector
  // math. dot(q,x) decomposes EXACTLY over subspaces, so the only error
  // is the codebook quantization itself. All driver state is the
  // codebooks (m×ksub×dsub floats); corpus work is pure projections —
  // the 100 TB shape (train on a sample at real scale).
  // ---------------------------------------------------------------------

  /** Per-subspace L2 k-means codebooks: (sub, cent_id, cent_vec),
    * cent_id = 0..ksub-1 within each subspace. Deterministic like
    * [[kmeansCentroids]] (hash-ordered seeds, decimal means).
    *
    * All m subspaces train TOGETHER: the corpus explodes once per Lloyd
    * iteration into (sub, subvec) rows, assignment indexes a per-sub
    * centroid literal, and one (sub, cell, pos) aggregate updates every
    * codebook — iters+1 corpus scans total instead of m×(iters+1)
    * (measured 3.5 s → ~1 s at sf0.1 for m=8). Seeds are the hash-order
    * first `ksub` vectors sliced per subspace — one TakeOrdered, no
    * per-sub window (a Window.partitionBy(sub) would funnel the corpus
    * through m reducers at scale). */
  def pqTrainCodebooks(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 256, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    val dim = embeddings.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // The training relation is a bounded SAMPLE at real scale (the PQ
    // contract: train on a sample, encode the corpus) — so materialize
    // it once, spread across all cores, and let every Lloyd iteration
    // re-scan the materialized copy instead of the source files. The
    // driver's test parquet is a single row group, so without the
    // repartition every training pass ran single-threaded; sums are
    // order-independent decimal adds and seed order is by hash VALUE,
    // so the partitioning cannot change any result bit.
    val train = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(Lineage.cut(_))
    val seedVecs = train
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(ksub).collect().map(_.getSeq[Float](1))
    var books: Array[Array[Cent]] = Array.tabulate(m) { s =>
      seedVecs.zipWithIndex.map { case (v, i) =>
        val sv = v.slice(s * dsub, (s + 1) * dsub)
        (i.toLong, sv, l2(sv))
      }
    }
    (1 to iters).foreach { _ =>
      // assignment: ALL m subspace argmaxes in ONE native kernel per
      // row (NativeExprs.PqCodes), evaluated once under the generator —
      // then each generated (sub, subvec) row picks its code by index.
      // Replaces a transform-over-centroid-literal HOF argmax that at
      // ksub=256 cost 2048 interpreted closures per row.
      val codesExpr = graft.functions.NativeExprs.pqCodes(
        col("v"), booksArg(books))
      // ONE aggregation to (sub, cell, pos, mv) — m·ksub·dsub rows,
      // model-sized — collected flat; the driver assembles the per-cell
      // mean VECTORS (same pos-ascending order the previous
      // array_sort(collect_list(struct(pos, mv))) stage produced, so
      // the books are bit-identical). Assembling on the driver drops a
      // whole shuffle stage per Lloyd iteration: the second groupBy
      // bought nothing but wire format.
      val updated = graft.functions.NativeExprs.withModels(codesExpr)(train
        .select(codesExpr.as("codes"),
          posexplode(array((0 until m).map(s =>
            slice(col("v"), s * dsub + 1, dsub)): _*)))
        .select(col("pos").as("sub"),
          element_at(col("codes"), col("pos") + 1).as("cell"),
          posexplode(col("col")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg((sum(col("col").cast(org.apache.spark.sql.types.DecimalType(28, 14)))
          .cast("double") / count(lit(1)).cast("double")).cast("float").as("mv"))
        .collect())
      books = updated.groupBy(_.getInt(0)).toArray.sortBy(_._1).map(_._2
        .groupBy(_.getLong(1)).toArray
        .map { case (cell, rows) =>
          val v = rows.sortBy(_.getInt(2)).map(_.getFloat(3)).toSeq
          (cell, v, l2(v))
        }
        .sortBy(_._1))
    }
    booksToDf(embeddings, books).select(col("sub"), col("cent_id"), col("cent_vec"))
  }

  /** Encode every vector as its m nearest-subcentroid ids:
    * (id, codes array<bigint>). Codebooks are collected to the driver
    * (model-sized) and applied as one shuffle-free projection. */
  def pqEncode(embeddings: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val books = collectBooks(codebooks)
    embeddings.select(col(idCol),
      graft.functions.NativeExprs.pqCodes(col(vecCol), booksArg(books))
        .as("codes"))
  }

  /** Books in the serializable (id, vec) shape [[graft.functions.NativeExprs.PqCodes]]
    * takes — norms re-derive inside the expression, bit-identically. */
  private def booksArg(books: Array[Array[Cent]]): Seq[Seq[(Long, Seq[Float])]] =
    books.toSeq.map(_.toSeq.map { case (id, v, _) => (id, v) })

  /** ADC top-k for one anchor: approximate cosine from the anchor's
    * per-(sub, centroid) lookup tables — m static element_at lookups
    * per row (codegen'd, no higher-order functions in the hot path). */
  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      anchorId: Long, k: Int = 10, m: Int = 8, ksub: Int = 256,
      iters: Int = 2): DataFrame = {
    val books = collectBooks(
      pqTrainCodebooks(embeddings, idCol, vecCol, m, ksub, iters))
    val anchor = embeddings.filter(col(idCol) === anchorId)
      .select(col(vecCol)).head().getSeq[Float](0)
    val encoded = pqEncode(embeddings, booksToDf(embeddings, books), idCol, vecCol)
    adcTopK(encoded, books, idCol, anchor, k, excludeId = Some(anchorId))
  }

  /** The shared ADC scoring tail: score an already-ENCODED corpus
    * against one anchor vector via the anchor's m×ksub lookup tables
    * (driver-built, shipped as literals), ending in
    * TakeOrderedAndProject. Used by both the train-inline [[pqTopK]]
    * and the persisted-index probe [[pqTopKIndexed]]. */
  private[graft] def adcTopK(encoded: DataFrame, books: Array[Array[Cent]],
      idCol: String, anchor: Seq[Float], k: Int,
      excludeId: Option[Long]): DataFrame = {
    val dsub = books(0)(0)._2.length
    val qnorm = l2(anchor)
    // lookup tables: dotLut(s)(cid) = dot(q_s, c); n2Lut(s)(cid) = ‖c‖²
    def dotSub(s: Int, c: Seq[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < c.length) { acc += anchor(s * dsub + i).toDouble * c(i).toDouble; i += 1 }
      acc
    }
    // cent_ids are dense 0..n-1 per sub only if no cell emptied during
    // Lloyd — index the LUT by cent_id POSITION in the sorted book and
    // map codes to positions the same way, so the two always agree
    val dotLut = typedLit(books.zipWithIndex.map { case (b, s) =>
      b.map(c => dotSub(s, c._2)).toSeq }.toSeq)
    val n2Lut = typedLit(books.map(_.map(c => c._3 * c._3).toSeq).toSeq)
    val dotApprox = books.indices.map { s =>
      element_at(element_at(dotLut, s + 1),
        codePos(books(s), col("codes"), s))
    }.reduce(_ + _)
    val n2Approx = books.indices.map { s =>
      element_at(element_at(n2Lut, s + 1),
        codePos(books(s), col("codes"), s))
    }.reduce(_ + _)
    val base = excludeId.map(a => encoded.filter(col(idCol) =!= a)).getOrElse(encoded)
    base
      .select(col(idCol),
        (dotApprox / (lit(qnorm) * sqrt(n2Approx))).as("pq_cos"))
      .orderBy(col("pq_cos").desc, col(idCol))
      .limit(k)
  }

  /** Materialize the PQ index: codebooks (model-sized) plus the m-code
    * encoding of the whole corpus, both parquet. Build once, probe
    * many — training cost leaves the query path entirely, and the probe
    * scans ~m bytes per vector (8 B at m=8, ksub ≤ 256) instead of the
    * raw float vectors (256 B at dim=64): a 32× bandwidth cut that at
    * 100 TB of embeddings means reading ~3 TB of codes. The codebooks
    * round-trip through parquet float32 exactly, so a probe of the
    * persisted index returns BIT-identical results to the train-inline
    * path (`SimilaritySpec` pins this). */
  def buildPqIndex(embeddings: DataFrame, idCol: String, vecCol: String,
      path: String, m: Int = 8, ksub: Int = 256, iters: Int = 2): DataFrame = {
    val booksDf = pqTrainCodebooks(embeddings, idCol, vecCol, m, ksub, iters)
    // model artifact (m·ksub rows): one file, not default-parallelism
    // shards of a driver-local Seq
    booksDf.coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val spark = embeddings.sparkSession
    // Encode with the SAME in-memory books: parquet stores float32
    // exactly, so the read-back codebooks are bit-identical to what was
    // written — re-reading them here only added a job and a collect
    // (the probe-equals-inline pin in SimilaritySpec covers this).
    pqEncode(embeddings, booksDf, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$path/codes")
    spark.read.parquet(s"$path/codebooks")
  }

  /** Incremental PQ index maintenance — the third index family's merge
    * (next to `Retrieval.mergeBm25Index` and [[mergeIvfIndex]]): encode
    * a NEW batch with the index's STANDING codebooks (no retrain — the
    * codebook is the rarely-retrained model artifact) and append the
    * codes. Encoding is a pure per-row function of (vector, codebooks),
    * so `build(A); merge(B)` yields a codes table identical to encoding
    * A ∪ B with A's books, and the ADC probe of the merged index equals
    * the single-build probe bit for bit (pinned in SimilaritySpec —
    * the probe-side arithmetic is already oracle-green via
    * embed_pq_topk_md5). Vector ids must be new to the index. */
  def mergePqIndex(newEmbeddings: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newEmbeddings.sparkSession
    pqEncode(newEmbeddings, spark.read.parquet(s"$path/codebooks"),
        idCol, vecCol)
      .write.mode("append").parquet(s"$path/codes")
  }

  /** Probe a persisted PQ index: codebooks load to the driver
    * (model-sized), the anchor's lookup tables ship as literals, and ONE
    * scan of the codes table scores every vector — no training, no
    * encode, no float vectors read. The PQ analog of
    * [[ivfTopKIndexed]] / `Dedup.probeMinhashIndex`. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, anchorVec: Seq[Float], k: Int = 10,
      excludeId: Option[Long] = None): DataFrame = {
    val books = collectBooks(spark.read.parquet(s"$path/codebooks"))
    adcTopK(spark.read.parquet(s"$path/codes"), books, idCol, anchorVec, k,
      excludeId)
  }

  /** 1-based LUT position of the code for subspace `s`: cent_ids are
    * positions in the cent_id-sorted book, mapped via a literal id →
    * position array (ids may be sparse after empty-cell drop). */
  private def codePos(book: Array[Cent], codes: Column, s: Int): Column = {
    val ids = book.map(_._1)
    val posOf = typedLit(ids.zipWithIndex.map { case (id, p) => (id, p + 1) }.toMap)
    element_at(posOf, element_at(codes, s + 1))
  }

  private def collectBooks(codebooks: DataFrame): Array[Array[Cent]] =
    codebooks.select(col("sub").cast("int"), col("cent_id").cast("long"),
        col("cent_vec"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.map(r => {
        val v = r.getSeq[Float](2); (r.getLong(1), v, l2(v))
      }).sortBy(_._1))

  private def booksToDf(embeddings: DataFrame, books: Array[Array[Cent]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    books.zipWithIndex.flatMap { case (b, s) =>
      b.map { case (id, v, _) => (s, id, v) }
    }.toSeq.toDF("sub", "cent_id", "cent_vec")
  }
}
