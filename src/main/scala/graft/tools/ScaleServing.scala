package graft.tools

import org.apache.spark.sql.functions._

/** Scaling sweep for the SERVING-OP families (persisted-index build /
  * incremental merge / probe, and hybrid fusion) on the FULL tables of
  * each given dir — the unbounded faces of the operators whose bench
  * queries are deliberately bounded (the `< 300` / `< 2000` verification
  * corpora measure arithmetic, not scale).
  *
  * For each data dir: BM25 index build over the even doc_ids, merge of
  * the odd half, fixed-terms probe; IVF (md5 twin) build over even
  * vec_ids, merge of the odd half, probe; hybrid RRF over the full
  * corpus. Each stage timed separately (warm JVM, best of 2), so the
  * expected signature is visible per stage: build/merge ≈ linear in
  * rows, probe ≈ FLAT (bucket/cell pruned), fusion ≈ the two generator
  * scans.
  *
  * Usage: runMain graft.tools.ScaleServing <dir1> <dir2> [...]
  * e.g.   runMain graft.tools.ScaleServing /root/testdata/sf0.1 \
  *          /tmp/sfsynth1 /tmp/sfsynth100
  */
object ScaleServing {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleServing <dir1> [dir2 ...]")
    val spark = graft.Sessions.build("graft-scale-serving")

    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    println(f"[serving] ${"dir"}%-22s ${"stage"}%-18s ${"sec"}%8s  rows")
    args.foreach { dir =>
      val tag = dir.split('/').last
      val docs = graft.engine.Tables.load(spark, dir, "documents")
      val emb = graft.engine.Tables.load(spark, dir, "embeddings")
      val nDocs = docs.count(); val nVecs = emb.count()
      println(s"[serving] $tag: $nDocs docs, $nVecs vectors")

      // --- BM25 family (production hash path, 256-bucket layout) ---
      val bIdx = s"/tmp/graft_scaleserv_bm25_$tag"
      val (tb, _) = timed(graft.ops.Retrieval.buildBm25Index(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", bIdx))
      val (tm, _) = timed(graft.ops.Retrieval.mergeBm25Index(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", bIdx))
      val terms = Seq("hash", "join", "window", "stream", "shuffle")
      val (tp0, _) = timed(graft.ops.Retrieval
        .probeBm25Index(spark, bIdx, terms, 20).count()) // warm listing
      val (tp, pr) = timed(graft.ops.Retrieval
        .probeBm25Index(spark, bIdx, terms, 20).count())
      println(f"[serving] $tag%-22s ${"bm25_build(even)"}%-18s $tb%8.2f")
      println(f"[serving] $tag%-22s ${"bm25_merge(odd)"}%-18s $tm%8.2f")
      println(f"[serving] $tag%-22s ${"bm25_probe"}%-18s $tp%8.2f  $pr (cold $tp0%.2f)")

      // --- IVF family (md5 twin — the persisted/partition-pruned path) ---
      val iIdx = s"/tmp/graft_scaleserv_ivf_$tag"
      val (ib, _) = timed(graft.ops.Similarity.buildIvfIndexMd5(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", iIdx,
        nCells = 40))
      val (im, _) = timed(graft.ops.Similarity.mergeIvfIndexMd5(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", iIdx))
      val (ip0, _) = timed(graft.ops.Similarity.ivfIndexProbeMd5(
        spark, iIdx, "vec_id", anchorId = 0L, k = 10, nProbe = 2).count())
      val (ip, ir) = timed(graft.ops.Similarity.ivfIndexProbeMd5(
        spark, iIdx, "vec_id", anchorId = 0L, k = 10, nProbe = 2).count())
      println(f"[serving] $tag%-22s ${"ivf_build(even)"}%-18s $ib%8.2f")
      println(f"[serving] $tag%-22s ${"ivf_merge(odd)"}%-18s $im%8.2f")
      println(f"[serving] $tag%-22s ${"ivf_probe"}%-18s $ip%8.2f  $ir (cold $ip0%.2f)")

      // --- hybrid RRF over the FULL corpus (two generator scans) ---
      val (h0, _) = timed(graft.ops.Retrieval.hybridRrf(docs, emb, terms,
        anchorId = 0L, poolK = 50, k = 20).count())
      val (h, hr) = timed(graft.ops.Retrieval.hybridRrf(docs, emb, terms,
        anchorId = 0L, poolK = 50, k = 20).count())
      println(f"[serving] $tag%-22s ${"hybrid_rrf"}%-18s $h%8.2f  $hr (cold $h0%.2f)")
    }
    spark.stop()
  }
}
