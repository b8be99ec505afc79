package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Scale probe for the link-prediction scorecard laws (RA / neighborhood-
  * Jaccard / preferential attachment — [[Graph.linkPredictionScored]]):
  * synthesizes a ≥20M-edge graph (distributed via `spark.range`, never on
  * the driver) whose every scored pair has a CLOSED-FORM signature the
  * integer laws must reproduce exactly:
  *
  *   - a ring over n vertices: every vertex has degree 2, so the only
  *     scored pairs are the n distance-2 pairs (i, i+2) sharing exactly
  *     the one middle neighbor — cn = 1, ra_pico = 10¹² div 2,
  *     jaccard_pico = 10¹² div 3, pa_score = 4;
  *   - G planted "butterfly" gadgets off the ring: non-adjacent (U, V)
  *     joined through 4 shared degree-2 neighbors Z — the (U, V) pair
  *     must score cn = 4, ra = 2·10¹², jaccard = 10¹² (Γ(U) = Γ(V)),
  *     pa = 16; each of the C(4,2) = 6 (Z, Z) pairs shares U and V
  *     (degree 4 each) — cn = 2, ra = 2·(10¹² div 4), jaccard = 10¹²,
  *     pa = 4;
  *   - one mega-hub H wired to 100k dedicated leaves: WITHOUT the apex
  *     cap those leaves would explode into C(100k, 2) ≈ 5·10⁹ pairs from
  *     one task — the probe finishing at all, with the TOTAL pair count
  *     exactly n + 7·G, is the cap's scale proof (deg H ≫ maxApexDegree
  *     drops H as a generator; the leaves have no other neighbor).
  *
  * Everything asserts in ONE aggregate pass over the scored frame — no
  * per-class collects.
  *
  * Usage: `sbt "runMain graft.tools.LinkPredictScale [ringEdges]"`.
  */
object LinkPredictScale {
  def main(args: Array[String]): Unit = {
    val n = math.max(100000L, args.headOption.map(_.toLong).getOrElse(20000000L))
    val gadgets = 1000L
    val leaves = 100000L
    val base = n + 10L // gadget ids: U=base+10i, V=U+1, Z_j=U+2+j (j<4)
    val hub = base + 10L * gadgets + 1000000L
    val spark = graft.LocalSpark()

    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1L) % n).as("dst"))
    val gz = spark.range(gadgets * 4L).select(
      (lit(base) + expr("id div 4") * 10L).as("_u"),
      (lit(base) + expr("id div 4") * 10L + 2L + col("id") % 4L).as("_z"))
    val uEdges = gz.select(col("_u").as("src"), col("_z").as("dst"))
    val vEdges = gz.select((col("_u") + 1L).as("src"), col("_z").as("dst"))
    val hubEdges = spark.range(leaves).select(lit(hub).as("src"),
      (lit(hub) + 1L + col("id")).as("dst"))
    val edges = ring.unionByName(uEdges).unionByName(vEdges)
      .unionByName(hubEdges)

    val t0 = System.nanoTime()
    val ws = Graph.prepareUndirected(edges, "src", "dst")
    val scored = Graph.linkPredictionScored(ws, maxApexDegree = 64L)
    // ONE classification aggregate: every scored pair must carry exactly
    // one of the three closed-form signatures
    val r = scored.agg(
      count(lit(1)).as("total"),
      sum(when(col("u") < n && col("v") < n &&
        col("common_neighbors") === 1L &&
        col("ra_pico") === 500000000000L &&
        col("jaccard_pico") === 333333333333L &&
        col("pa_score") === 4L, 1L).otherwise(0L)).as("ring_ok"),
      sum(when(col("u") >= base && (col("u") - base) % 10L === 0L &&
        col("v") === col("u") + 1L &&
        col("common_neighbors") === 4L &&
        col("ra_pico") === 2000000000000L &&
        col("jaccard_pico") === 1000000000000L &&
        col("pa_score") === 16L, 1L).otherwise(0L)).as("uv_ok"),
      sum(when(col("u") >= base && (col("u") - base) % 10L >= 2L &&
        col("common_neighbors") === 2L &&
        col("ra_pico") === 500000000000L &&
        col("jaccard_pico") === 1000000000000L &&
        col("pa_score") === 4L, 1L).otherwise(0L)).as("zz_ok"))
      .head
    val dt = (System.nanoTime() - t0) / 1e9
    ws.release()

    val (total, ringOk, uvOk, zzOk) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    println(f"=== LinkPredictScale: ${n + gadgets * 8L + leaves}%d directed edges " +
      f"(ring $n%d + ${gadgets * 8L}%d gadget + $leaves%d hub), scored in $dt%.1f s ===")
    println(s"=== scored pairs: total $total; ring $ringOk/$n; " +
      s"gadget UV $uvOk/$gadgets; gadget ZZ $zzOk/${6L * gadgets} ===")

    require(ringOk == n,
      s"ring distance-2 closed form: expected $n exact pairs, got $ringOk")
    require(uvOk == gadgets,
      s"butterfly UV closed form: expected $gadgets exact pairs, got $uvOk")
    require(zzOk == 6L * gadgets,
      s"butterfly ZZ closed form: expected ${6L * gadgets}, got $zzOk")
    require(total == n + 7L * gadgets,
      s"total must be EXACTLY ring + 7*gadgets (hub leaves fully capped): " +
        s"got $total, want ${n + 7L * gadgets}")
    println("=== LinkPredictScale: all closed-form laws exact; apex cap held ===")
    spark.stop()
  }
}
