package graft.tools

import org.apache.spark.sql.functions._

import graft.Measure.timed
import graft.Sessions

/** Round-14 iterative-graph scale probe (VERDICT r13 item 4): the
  * PageRank/TrustRank/HITS/connected-components/recursive-closure
  * family's largest prior evidence was 100×; this drives each operator
  * over a ~100 M-edge synthetic graph at contract memory (local[32],
  * 8 g, shuffle.partitions=32) and prints per-operator wall-clock +
  * result cardinalities.
  *
  * Edge construction (pure id arithmetic over `spark.range(n)`, no
  * input data needed — the same three planted families as the l98
  * fixture graph, so degree shape matches the oracle-checked small
  * graph): ring (connectivity), quadratic map (irregular in-degree),
  * hub targets (skew: 25 targets absorb one edge per node). ~3n rows
  * before the operators' own `distinct`.
  *
  * The CC / closure inputs use a DIFFERENT family — binary-tree
  * parent edges (i → i div 2) plus 1000-block star links — because
  * min-label pointer jumping needs O(log diameter) rounds: the ring's
  * diameter is n (≈26 doubling rounds at 34 M — the maxIter boundary),
  * while real near-dup components are clique-dense with tiny
  * diameters. The tree+star graph has diameter ≈ 2·log₂(n), the
  * realistic regime, while still being one 34 M-node component the
  * probe can assert exactly.
  *
  * Usage: runMain graft.tools.GraphScaleProbe [nNodes]
  */
object GraphScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(34000000L)
    val spark = Sessions.local(Sessions.cpus("32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // l98-family link graph: ring + quadratic + hubs (i² stays < 2⁶³
    // for n < 3e9; the probe default is 3.4e7)
    val ids = spark.range(n).toDF("i")
    val linkEdges = ids.select(col("i").as("src"), ((col("i") + 1) % n).as("dst"))
      .unionAll(ids.select(col("i").as("src"),
        ((col("i") * col("i") + 1) % n).as("dst")))
      .unionAll(ids.select(col("i").as("src"), ((col("i") % 25) * 20).as("dst")))
    val nEdges = 3 * n
    println(s"[graph-probe] n_nodes=$n planted_edges=$nEdges (pre-distinct)")

    // 1. PageRank, 4 power iterations (the l98 operator + iteration count)
    val (prTop, tPr) = timed {
      val pr = graft.operators.PageRank.run(linkEdges, "src", "dst", iterations = 4)
      val top = pr.orderBy(col("pr").desc, col("id")).limit(3).collect()
      pr.unpersist()
      top.map(r => s"${r.get(0)}:${r.getDouble(1)}").mkString(",")
    }
    println(f"[graph-probe] pagerank4: ${tPr}%.1f s top3=$prTop")

    // 2. TrustRank (personalized teleport on n/1e6 ≈ 34 seeds — the
    //    sparse-frontier variant, l103)
    val seeds = ids.filter(col("i") % 1000000L === 0).select(col("i").as("seed"))
    val (trustMass, tTrust) = timed {
      val tr = graft.operators.PageRank.personalized(
        linkEdges, seeds, "src", "dst", "seed", iterations = 4)
      val mass = tr.agg(sum("trust")).head.getDouble(0)
      tr.unpersist()
      mass
    }
    println(f"[graph-probe] trustrank4: ${tTrust}%.1f s total_trust=$trustMass%.6f")

    // 3. HITS, 4 mutual-recursion iterations (l111)
    val (hitsRows, tHits) = timed {
      val h = graft.operators.PageRank.hits(linkEdges, "src", "dst", iterations = 4)
      val c = h.count(); h.unpersist(); c
    }
    println(f"[graph-probe] hits4: ${tHits}%.1f s rows=$hitsRows%d")

    // tree + block-star edges: one component, diameter ≈ 2·log₂(n)
    val treeEdges = ids.filter(col("i") > 0)
      .select(col("i").as("src"), (col("i") / 2).cast("long").as("dst"))
      .unionAll(ids.select(col("i").as("src"),
        ((col("i") / 1000).cast("long") * 1000).as("dst")))

    // 4. connected components over ~2n undirected edges
    val (ccStats, tCc) = timed {
      val cc = graft.operators.ConnectedComponents.run(treeEdges, "src", "dst")
      val comps = cc.select("component").distinct().count()
      val rows = cc.count()
      cc.unpersist()
      (rows, comps)
    }
    println(f"[graph-probe] connected_components: ${tCc}%.1f s " +
      f"labeled=${ccStats._1}%d components=${ccStats._2}%d (expect 1)")

    // 5. recursive root closure (q38's operator) over the n-node
    //    binary-tree forest: depth ≈ log₂(n), pointer doubling
    val forest = ids.select(col("i").as("id"),
      when(col("i") === 0, lit(null).cast("long"))
        .otherwise((col("i") / 2).cast("long")).as("parent"))
    val (clStats, tCl) = timed {
      val walk = graft.operators.Hierarchy.rootClosure(forest, "id", "parent")
      val maxDepth = walk.agg(max("depth")).head.getLong(0)
      val rows = walk.count()
      walk.unpersist()
      (rows, maxDepth)
    }
    println(f"[graph-probe] root_closure: ${tCl}%.1f s rows=${clStats._1}%d " +
      f"max_depth=${clStats._2}%d (expect ~log2(n))")

    spark.stop()
  }
}
