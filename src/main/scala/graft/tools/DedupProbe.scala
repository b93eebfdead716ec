package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Measure.timed
import graft.Sessions

/** Round-13 dedup scale probe: the LSH BANDING S-CURVE, measured.
  *
  * What the 1000× corpus taught: `minhashLshPairs`'s fixture defaults
  * (16 hashes, 8 bands ⇒ r=2 rows/band) put the candidate threshold at
  * j ≈ (1/b)^(1/r) = 0.35 — far below the 0.8 verify threshold. On a
  * template-heavy corpus (here: 1000 replicas/base doc at cross-replica
  * j ≈ 0.13 after the generator fix; real crawls have the same shape in
  * boilerplate families) the per-band collision rate j^r ≈ 1.6% turns
  * ~12% of the quadratically-many cross-replica pairs into CANDIDATES —
  * ~300 M pairs whose distinct+verify shuffles filled the probe VM's
  * disk. The production config for a 0.8 threshold is r=8: 128 hashes,
  * 16 bands ⇒ candidate rate at j=0.13 is 1-(1-0.13^8)^16 ≈ 1e-6
  * (candidates ≈ true dups only) while recall at j≥0.8 stays ≥95%
  * (≈1-1e-8 on the ≥0.9 planted dups).
  *
  * Phase A exhibits the s-curve empirically on a bounded slice. The
  * slice keys on the REPLICA index (`doc_id div 10^7`, the
  * scale_corpus.py layout), keeping every sliceMod-th replica of EVERY
  * base doc — 1000/sliceMod = 40 replicas/base at the default, so the
  * per-base collision-clique structure is preserved at 1/25 width.
  * (The round-13 version sliced on `doc_id % 25`; since 10^7 ≡ 0
  * (mod 25) that congruence is really `base % 25` — it kept ALL 1000
  * replicas of 4 % of bases, i.e. full 1000-cliques, and phase-A
  * counts at the loose config ran clique-quadratic at ~25× this
  * model. ADVICE r13; fixed by slicing the replica axis.)
  * Phase B times the full-corpus `minhashLshPairs` at the LIBRARY
  * DEFAULTS — production banding (128,16) since round 14 — and
  * reports the verified pair count.
  *
  * Usage: runMain graft.tools.DedupProbe [corpusDir] [sliceMod]
  */
object DedupProbe {

  /** Candidate pairs (band-bucket collisions, id_a < id_b, distinct) —
    * the same banding pipeline as minhashLshPairs, stopped before the
    * verify join.
    */
  def candidates(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, shingleK: Int = 3): DataFrame = {
    val rows = numHashes / bands
    val sh = graft.llm.TextDedup.withShingles(
      docs.select(col(idCol).as("id"), col(textCol)), textCol, "sh", shingleK)
      .select("id", "sh")
    val sigs = sh.select(col("id"),
      graft.functions.TextShingles.minhashSig(col("sh"), numHashes).as("sig"))
    val bandStructs = array((0 until bands).map { b =>
      val slice = (0 until rows).map(r => element_at(col("sig"), b * rows + r + 1))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("sig"))
    }: _*)
    val banded = sigs.select(col("id"), explode(bandStructs).as("bs"))
      .select(col("id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val left = banded.select(col("band"), col("sig"), col("id").as("id_a"))
    val right = banded.select(col("band"), col("sig"), col("id").as("id_b"))
    left.join(right, Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf1x1000")
    val sliceMod = args.drop(1).headOption.map(_.toInt).getOrElse(25)
    val spark = Sessions.local(Sessions.cpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = graft.Fixtures.table(spark, dir, "documents")

    // Phase A: s-curve exhibit on the slice — thin the REPLICA axis
    // (keep every sliceMod-th replica of every base doc), not doc_id
    // itself: 10^7 ≡ 0 (mod 25) makes `doc_id % 25` a base-id slice
    // that keeps whole 1000-cliques (ADVICE r13)
    val slice = docs.filter((col("doc_id") / lit(10000000L))
      .cast("long") % sliceMod === 0)
    val nSlice = slice.count()
    for ((nh, nb) <- Seq((16, 8), (128, 16))) {
      val (n, t) = timed(candidates(slice, "doc_id", "text", nh, nb).count())
      println(f"[dedup-probe] slice=$nSlice%d docs config=($nh%d,$nb%d r=${nh / nb}%d) " +
        f"candidates=$n%d  ${t}%.1f s")
    }

    // Phase B: full corpus, LIBRARY DEFAULTS (production banding
    // 128/16 since round 14 — this run is the default-path evidence),
    // end-to-end
    val nFull = docs.count()
    val (pairs, tFull) = timed(
      graft.llm.TextDedup.minhashLshPairs(docs, "doc_id", "text").count())
    println(f"[dedup-probe] full=$nFull%d docs config=DEFAULT(128,16 r=8) " +
      f"verified_pairs=$pairs%d  ${tFull}%.1f s")
    spark.stop()
  }
}
