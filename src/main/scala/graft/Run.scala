package graft

import org.apache.spark.sql.SparkSession

/** How every main in this build runs the engine: one session builder and
  * one release between queries.
  */
object Run {

  /** Cores of the in-process master and the session shuffle width. The
    * bench history was measured at this width: a wider session measured
    * slower on the sf0.1 suite (r16), and the stages that need width size
    * themselves from their input ([[Width]]).
    */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  val local: String = s"local[$cpus]"

  /** The session: shuffle partitions = [[cpus]], UTC (NTZ → timestamp
    * casts depend on the session zone, so an unpinned run on a non-UTC
    * host would compute a different row set than the verified one), no
    * UI, WARN logging. A `local-cluster[n,cores,mem]` master forks real
    * executor JVMs (needs SPARK_HOME and SPARK_SCALA_VERSION): they get
    * the library classes through `spark.executor.extraClassPath`
    * (`-Dgraft.classes.dir`, default target/scala-2.13/classes) and
    * SPARK_GRAFT_EXECUTOR_MEM (default 4g) of heap.
    */
  def session(master: String = local): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props.getOrElse("graft.classes.dir",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath))
        .config("spark.executor.memory", sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Releases what one query left behind, so the next starts from the
    * same storage: cached plans; registry-tracked checkpoints, which
    * clearCache does not own and which otherwise pile up in block
    * storage until the ContextCleaner collects them (r17's one-sided
    * 0.78-0.90x band as a 309-query run aged); and the `graft_stream_`
    * temp views of streaming memory sinks, whose results otherwise stay
    * on the driver heap. Memo assets are not registry-tracked and stay.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    CacheRegistry.releaseCheckpoints()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Locale-independent 3-decimal number: the f-interpolator uses the
    * JVM default locale, and a comma-decimal locale would write
    * unparseable JSON. */
  def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A JSON string literal: quote, backslash and every control character
    * escaped, so hand-written text (a tab in oracle SQL, a call
    * site) cannot break the reader's json.load. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
