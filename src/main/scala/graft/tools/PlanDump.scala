package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: formatted physical plans of named queries, planned in the
  * session Bench runs ([[graft.Run.session]], so at Bench's width).
  *
  *   runMain graft.tools.PlanDump <outDir> <suffix> <query>[,query...] <sfDir>
  *     writes <outDir>/<query>_<suffix>.txt per query — the
  *     optimization-round evidence artifact (plans/<tag>/);
  *   runMain graft.tools.PlanDump <file.md> <sfDir>
  *     writes the headline queries, each under its rationale, as one
  *     markdown document (the opening sections of EXPLAINS.md).
  */
object PlanDump {
  val headliners: Seq[(String, String)] = Seq(
    "q5_local_supplier" -> ("6-way dim chain: every dimension broadcasts " +
      "(BroadcastHashJoin), the r_name predicate reaches the parquet scan " +
      "(PushedFilters), and the only real shuffle is lineitem⋈orders."),
    "q1_pricing_summary" -> ("2-phase hash aggregation: partial_sum/" +
      "partial_count run map-side, the exchange carries |groups| rows."),
    "q_similarity_topk" -> ("Broadcast query set over a streaming candidate " +
      "scan; the TopKAgg partial aggregation bounds the shuffle to k rows " +
      "per partition per query; vec_dot is a codegen'd kernel."),
    "q_neardup_jaccard" -> ("Inverted-index join: one shuffle on the " +
      "shingle key (window df-cutoff, no agg+self-join recompute), pair " +
      "counts only for docs sharing a shingle, persisted index reused by " +
      "sizes and both join sides."),
    "q_stream_land" -> ("Streaming micro-batch plan: watermark → " +
      "dropDuplicatesWithinWatermark state store → idempotent per-batch " +
      "partitioned JSON landing (plan shown for the read-back aggregate)."),
    "q_ivf_search" -> ("IVF search: the codebook is one shared subplan " +
      "(persisted, broadcast into both the assignment join and the probe " +
      "derivation), the argmin is a broadcast-join + min(struct) partial " +
      "aggregation (no codebook-length expression tree), and candidates " +
      "meet only through the cell-id equi-join."),
    "q_agg_suite" -> ("Wide scalar-aggregate suite: the repartition " +
      "spreads the single-file scan before the partial-aggregation phase " +
      "so the 8 aggregates + count-distinct expand run on all cores — " +
      "partial_ functions before the exchange, merge after."))

  def main(args: Array[String]): Unit = {
    val doc = args(0).endsWith(".md")
    val sfDir = args(if (doc) 1 else 3)
    val spark = graft.Run.session()
    def plan(q: String): String = graft.SparkEntry.queries(q)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    if (doc) {
      val sections = headliners.map { case (q, why) =>
        s"\n## $q\n\n$why\n\n```\n${plan(q).take(6000)}\n```\n"
      }
      Files.writeString(Paths.get(args(0)),
        "# EXPLAINS — formatted physical plans of headline queries\n\n" +
        s"Generated by `graft.tools.PlanDump` on `$sfDir`. These are\n" +
        "the plans the scale claims in the scaladocs refer to; PlanSpec\n" +
        "asserts the load-bearing properties in CI.\n" + sections.mkString)
      println(s"[plandump] wrote ${args(0)}")
    } else {
      val (outDir, suffix) = (args(0), args(1))
      Files.createDirectories(Paths.get(outDir))
      for (q <- args(2).split(",").map(_.trim).filter(_.nonEmpty))
        try {
          Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), plan(q))
          println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
        } catch { case scala.util.control.NonFatal(e) =>
          println(s"[plandump] $q FAILED: ${e.getMessage}")
        }
    }
    spark.stop()
  }
}
