package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for every CLI main: `SPARK_GRAFT_CPUS`
  * (or the per-main default) drives both the master thread count and
  * the shuffle-partition count, UTC timezone, UI off, WARN logs. One
  * place to apply session-level fixes instead of six copy-pasted
  * builder blocks.
  */
object GraftSession {
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle files of FINISHED jobs are only reclaimed when the
      // ContextCleaner GCs their dependency objects — under a large
      // driver heap a multi-query sweep can run for an hour without a
      // single full GC, accumulating dead shuffle files until the disk
      // fills (an sf10 sweep failed exactly this way: later queries'
      // spills hit "No space left" on a 78 GB volume while earlier
      // queries' dead shuffles still held it). Default is
      // 30min; 5min bounds the dead-file window at negligible GC cost
      .config("spark.cleaner.periodicGC.interval", "5min")
    // deployment-tuning seam: extra session confs as
    // `key=value;key=value` — cluster values (shuffle partitions,
    // codecs, join-strategy preferences) stay parameterised per the
    // optimization contract instead of hard-coding local-mode wins;
    // unset = the defaults above, so the driver's bench is unchanged.
    // LIMITATION (documented): ';' is the entry separator
    // with no escaping, so a VALUE containing ';' (e.g. a multi-flag
    // extraJavaOptions) cannot be expressed — it splits into malformed
    // entries and fails the require below (loudly, never silently).
    // Confs like that belong in spark-defaults/submit flags, not here.
    val extra = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
    val withExtra = extra.split(";").map(_.trim).filter(_.nonEmpty)
      .foldLeft(base) { (b, kv) =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry not key=value: $kv")
        b.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    val s = withExtra.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
