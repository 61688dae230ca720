package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-synthesis writer: self-union the driver's parquet tables
  * `factor`× with re-keyed ids, so the pipeline tier can be MEASURED at
  * ~10× data (the 100 TB posture is otherwise only plan-pinned; see
  * PERF.md "scaling" table).
  *
  * Design choices, so the measurement is honest:
  *  - Fact/id keys are shifted by `replica * KeyStride` — replicas add
  *    NEW documents/vectors/users/orders rather than duplicating keys.
  *  - Document text is decorrelated per replica by a letter rotation
  *    (`translate`), otherwise every doc would gain `factor-1` exact
  *    twins and near-dup outputs would grow quadratically in `factor` —
  *    measuring output explosion, not operator scaling.
  *  - Embeddings get a small deterministic per-replica jitter for the
  *    same reason (identical vectors would pile into identical LSH/IVF
  *    buckets and measure the skew caps instead of throughput).
  *  - Event user_ids are re-keyed per replica: 10× data = 10× users
  *    with the same per-user session structure (the realistic shape).
  *  - Dimension tables (region/nation/customer/supplier/part) are
  *    copied unchanged: facts grow, dims don't — exactly the 100 TB
  *    shape where dim joins must stay broadcast.
  *
  * Usage: `runMain graft.tools.SynthScale <srcDir> <outDir> [factor]`
  */
object SynthScale {
  private val KeyStride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfsynth1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.build("graft-synth-scale")

    def table(n: String): DataFrame = graft.engine.Tables.load(spark, src, n)

    /** factor copies with `f(df, replicaIdx)` applied to each. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)

    def shift(colName: String, i: Int): org.apache.spark.sql.Column =
      col(colName) + lit(i * KeyStride)

    // Affine letter permutation per replica: j → (a*j + b) mod 26 with
    // a coprime to 26 — 12×26 = 312 DISTINCT permutations, so replicas
    // stay pairwise-decorrelated up to factor 312 (a pure rotation
    // repeats after 26 and factor-100 replicas 0/26/52/78 would be
    // exact twins, exploding near-dup outputs). i=0 is the identity
    // (a=1, b=0): replica 0 is the original corpus.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val coprimes = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def rot(i: Int): (String, String) = {
      val a = coprimes((i / 26) % coprimes.length)
      val b = i % 26
      val perm = (0 until 26).map(j => lower((a * j + b) % 26)).mkString
      (lower + upper, perm + perm.toUpperCase)
    }

    val writers: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => table("region")),
      "nation" -> (() => table("nation")),
      "customer" -> (() => table("customer")),
      "supplier" -> (() => table("supplier")),
      "part" -> (() => table("part")),
      "orders" -> (() => replicate(table("orders")) { (df, i) =>
        df.withColumn("o_orderkey", shift("o_orderkey", i))
      }),
      "lineitem" -> (() => replicate(table("lineitem")) { (df, i) =>
        df.withColumn("l_orderkey", shift("l_orderkey", i))
      }),
      "events" -> (() => replicate(table("events")) { (df, i) =>
        df.withColumn("event_id", shift("event_id", i))
          .withColumn("user_id", shift("user_id", i))
      }),
      "documents" -> (() => replicate(table("documents")) { (df, i) =>
        val (from, to) = rot(i)
        df.withColumn("doc_id", shift("doc_id", i))
          .withColumn("text", if (i == 0) col("text") else translate(col("text"), from, to))
      }),
      "embeddings" -> (() => {
        // Per-replica SIGNED PERMUTATION of the components: an
        // orthogonal transform, so within-replica cosine structure is
        // preserved EXACTLY (each replica has the same near-dup density
        // as the base corpus → outputs scale linearly), while
        // cross-replica cosines collapse to ~N(0, 1/√d) — far below any
        // near-dup threshold. (The earlier additive jitter kept
        // cross-replica cosine ≈ 0.99: every vector gained factor-1
        // true near-dups and candidate work grew QUADRATICALLY in the
        // factor — measuring corpus construction, not the operator.)
        val emb = table("embeddings")
        val dim = emb.select(size(col("embedding"))).head().getInt(0)
        replicate(emb) { (df, i) =>
          if (i == 0) df
          else {
            val rnd = new scala.util.Random(0xE5C0 + i)
            val perm = rnd.shuffle((0 until dim).toList)
            val signs = IndexedSeq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
            val shuffled = array((0 until dim).map(j =>
              (element_at(col("embedding"), perm(j) + 1) * lit(signs(j))).cast("float")): _*)
            df.withColumn("vec_id", shift("vec_id", i))
              .withColumn("embedding", shuffled)
          }
        }
      }))

    writers.foreach { case (name, mk) =>
      val t0 = System.nanoTime()
      mk().write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(f"[synth] $name written in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    println(s"[synth] done: $out at ${factor}x of $src")
    spark.stop()
  }
}
