package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.Measure.{median, noop, seconds}
import graft.Sessions
import graft.llm.Similarity

/** ANN index-family scale probe (SCALING.md evidence for l72/l93/l94/
  * l35): the 100 TB memory-bound path had 10× rows only (round-9 fifth
  * wave); this measures the three index lifecycle stages SEPARATELY,
  * at any corpus scale and centroid count:
  *
  *  - build_s: train quantizer + encode postings + persist to parquet
  *    (one-time, off the query clock — l72's prep);
  *  - append_s: encode a FIXED 2 000-vector batch against the frozen
  *    persisted quantizer and write the delta postings (l93's `add`
  *    path; the claim: O(batch × nCells), independent of index size);
  *  - probe_s: 20 fixed queries through the persisted index
  *    (quantizer + int8 postings read back, nProbe/nCells of the
  *    postings scanned, exact rerank on the shortlist — l72/l35's
  *    query path; the claim: linear in the PROBED fraction, so raising
  *    nCells at scale cuts it proportionally);
  *  - pq_s: l94's compressed exhaustive scan (PQ-ADC over every code)
  *    — honestly linear in corpus, the baseline the cell filter beats.
  *
  * Usage: runMain graft.tools.AnnProbe [embDir] [runs] [nCells]
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val embDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = if (args.length > 1) args(1).toInt else 3
    val nCells = if (args.length > 2) args(2).toInt else 16
    val spark = Sessions.local(Sessions.cpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = graft.Fixtures.table(spark, embDir, "embeddings")
    val corpus = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"))
    val corpusRows = corpus.count()
    // fixed probe workload at every scale: 20 queries, 2 000-vector batch
    val base = graft.Fixtures.table(spark, "/root/testdata/sf0.1", "embeddings")
    val queries = base.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      .localCheckpoint()
    val batch = base
      .select((col("vec_id") + lit(5000000000L)).as("c_id"),
        col("embedding").as("c_vec"))
      .localCheckpoint()
    val batchRows = batch.count()

    val roots = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
    def fresh(): String = {
      val p = Files.createTempDirectory("annprobe"); roots += p; p.toString
    }
    def cleanup(): Unit = roots.foreach { r =>
      val s = Files.walk(r)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }

    try {
      // build is the one expensive stage (Lloyd over the corpus) —
      // timed once; the per-query stages below get the full median-of-N
      val idxDir = fresh()
      val buildS = seconds {
        val (quantizer, postings) =
          Similarity.buildIvfIndex(corpus, "c_id", "c_vec", nCells)
        quantizer.write.mode("overwrite").parquet(s"$idxDir/quantizer.parquet")
        postings.repartition(spark.sparkContext.defaultParallelism)
          .write.mode("overwrite").parquet(s"$idxDir/postings.parquet")
      }
      val quantizer = spark.read.parquet(s"$idxDir/quantizer.parquet")
      val postings = spark.read.parquet(s"$idxDir/postings.parquet")

      val appendS = median((1 to runs).map { i =>
        val out = fresh()
        seconds {
          Similarity.appendToIvfIndex(batch, quantizer, "c_id", "c_vec")
            .write.mode("overwrite").parquet(s"$out/delta.parquet")
        }
      })

      val probeS = median((1 to runs).map { _ =>
        seconds {
          noop(Similarity.ivfPqTopKAgainstIndex(
            queries, quantizer, postings, corpus,
            "q_id", "c_id", "q_vec", "c_vec", k = 5))
        }
      })

      val pqS = median((1 to runs).map { _ =>
        seconds {
          noop(Similarity.pqTopK(queries, corpus,
            "q_id", "c_id", "q_vec", "c_vec", k = 5))
        }
      })

      def num(v: Double): String =
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
      println(s"""{"probe":"ann_index","corpus":"$embDir","corpus_rows":$corpusRows,"batch_rows":$batchRows,"n_cells":$nCells,"runs":$runs,"build_s":${num(buildS)},"append_s":${num(appendS)},"probe_s":${num(probeS)},"pq_exhaustive_s":${num(pqS)}}""")
      System.out.flush()
    } finally cleanup()
  }
}
