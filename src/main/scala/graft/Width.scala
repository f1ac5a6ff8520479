package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The one width rule: how many shuffle or state partitions a
  * data-sized stage gets, and the one scoped conf flip that applies it.
  *
  * A stage is sized by the bytes it will read, not by the core count.
  * On small partitions the per-task (and, for stateful drains, the
  * per-partition state-store open/commit) coordination costs more than
  * the compute — the Drizzle (SOSP 2017) observation — so a KB-sized
  * frame spread 32 wide is pure overhead: r17's scaling runs measured
  * q_entity_resolve 2.2x and the stream-stream joins ~2x FASTER on 8
  * cores than on 32. The same rule still widens past any
  * core count once the data grows, which is what keeps the components
  * fixpoint spill-free at sf10 (width 455-544 measured, against 803 GiB
  * of spill at the core-count width).
  *
  * The rule is one partition per `bytesPerPart` of `statsBytes`,
  * clamped to [1, 4096]. The sites and their parameters:
  *
  * | site | bytes per partition | cap |
  * |---|---|---|
  * | `neardup.fixpoint`, `er.fixpoint` | [[PartBytes]] (256 KiB) | none |
  * | `points`, `er.sig` | [[PartBytes]] | the session width |
  * | `ssjoin.state` | [[StateBytes]] (8 MiB) | none |
  * | `stream.profile` spread | on iff raw bytes ≥ session × 4 MiB | — |
  *
  * Capped sites are bounded-size stages (signature tables, the IVF-PQ
  * points frame) where the core count only multiplies per-task
  * overhead; uncapped sites need width for spill (the fixpoint) or
  * state size (stream joins) at scale. Width never changes values —
  * every consumer is partitioning-blind — so the oracle gate is
  * width-blind. There are no per-site overrides: a deployment sizes
  * the session (`spark.sql.shuffle.partitions`) and the data sizes the
  * rest. Each decision logs one `[width]` line on stderr.
  */
object Width {

  /** Bytes per partition for the fixpoint, points and ER-signature
    * stages. */
  val PartBytes: Long = 256L << 10

  /** Bytes per state partition for the stream-stream joins: keeps
    * per-partition buffered state well under the 100 MB–1 GB band. */
  val StateBytes: Long = 8L << 20

  /** Raw input bytes each post-spread task must get before the
    * stream-profile spread pays for its exchange. */
  private val SpreadBytesPerTask: Long = 4L << 20

  private val MaxWidth: Int = 4096

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** The conf pair that scopes a stage to `w` shuffle partitions. */
  def shuffle(w: Int): (String, String) = ShufflePartitions -> w.toString

  /** The narrow-cache scope: lets AQE replan cached subtrees, so a
    * KB-sized persist() inside the scope coalesces instead of
    * materializing at the session width. Spark defaults the flag off,
    * and compute-dense caches elsewhere (the skew spreads, the rerank
    * scorers) measured 2-3x WORSE coalesced — so operators whose caches
    * are provably small opt in around exactly the region that
    * materializes them, and restoration on exit is load-bearing. */
  val NarrowCachedPlans: (String, String) =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"

  /** Stats-estimated in-memory bytes of a plan's input: a materialized
    * cache reports actual in-memory bytes; a merely persist()-marked or
    * file-backed plan reports the file-side estimate, which gets a 2x
    * correction (measured r17 at sf10: 59.6 MB estimated vs 142 MB
    * materialized). */
  private def statsBytes(input: DataFrame): BigInt = {
    val plan = input.queryExecution.optimizedPlan
    val loaded = plan.exists {
      case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
    if (loaded) plan.stats.sizeInBytes else plan.stats.sizeInBytes * 2
  }

  /** ceil(bytes / bytesPerPart), clamped to [1, MaxWidth]. */
  private def ofBytes(bytes: BigInt, bytesPerPart: Long): Int =
    ((bytes + (bytesPerPart - 1)) / bytesPerPart)
      .min(BigInt(MaxWidth)).max(BigInt(1)).toInt

  private def sessionWidth(input: DataFrame): Int =
    input.sparkSession.sessionState.conf.numShufflePartitions

  private def log(site: String, bytes: BigInt, width: String,
                  session: Int): Unit =
    System.err.println(
      s"[width] site=$site bytes=$bytes width=$width session=$session")

  /** The uncapped rule: may exceed the session width. */
  def of(site: String, input: DataFrame,
         bytesPerPart: Long = PartBytes): Int = {
    val bytes = statsBytes(input)
    val w = ofBytes(bytes, bytesPerPart)
    log(site, bytes, w.toString, sessionWidth(input))
    w
  }

  /** The [[PartBytes]] rule capped at the session width. */
  def capped(site: String, input: DataFrame): Int = {
    val bytes = statsBytes(input)
    val session = sessionWidth(input)
    val w = math.min(session, ofBytes(bytes, PartBytes))
    log(site, bytes, w.toString, session)
    w
  }

  /** Whether a batch is big enough to spread session-wide before its
    * aggregation: each post-spread task must get at least
    * `SpreadBytesPerTask` (4 MiB) of the raw (uncorrected) plan estimate. */
  def spread(site: String, batch: DataFrame): Boolean = {
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val session = sessionWidth(batch)
    val on = bytes >= BigInt(session) * SpreadBytesPerTask
    log(site, bytes, if (on) session.toString else "keep", session)
    on
  }

  /** Run `body` with `confs` set on the session, restoring every prior
    * value on exit — also when `body` throws. Every job `body` launches
    * sees the scoped values; a frame it returns must already be
    * materialized (checkpointed or written) for the width to stick. */
  def scoped[T](spark: SparkSession, confs: (String, String)*)
               (body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
