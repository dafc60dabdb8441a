package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Minimal HOCON-subset configuration, dependency-free (the sandbox has
  * no typesafe-config jar). The reference drives every pipeline knob
  * from an `application.conf` (src/main/resources/application.conf:2-92,
  * loaded at producer/MainProducer.scala:18-23 and
  * consumer/MainConsumer.scala:18-37); this loader gives the same
  * file-driven surface — paths, trigger interval, batch size, formats —
  * so re-pointing a pipeline never needs a recompile.
  *
  * Supported syntax (the subset the reference's conf actually uses):
  * nested `key { ... }` blocks, `key = value` / `key: value` leaves,
  * `#` and `//` comments (inline too), quoted or bare scalar values.
  * Keys flatten to dotted paths (`graft.producer.data.batchSize`).
  * Not supported (unused by the reference): substitutions, includes,
  * multi-line arrays, concatenation.
  */
final case class GraftConfig(entries: Map[String, String]) {

  /** The value at `path`, else its code default in
    * [[GraftConfig.Defaults]]; a key in neither fails, naming it. */
  def str(path: String): String =
    entries.get(path).orElse(GraftConfig.Defaults.get(path)).getOrElse(
      throw new IllegalArgumentException(
        s"config key '$path' is not set and has no default"))

  /** The value at `path`, else `default` (for a fallback that is
    * itself another key's value). */
  def str(path: String, default: String): String =
    entries.getOrElse(path, default)

  def strOpt(path: String): Option[String] = entries.get(path)

  def long(path: String): Long = typed(path, "a long")(_.toLongOption)

  def int(path: String): Int = typed(path, "an int")(_.toIntOption)

  def bool(path: String): Boolean =
    typed(path, "a boolean")(_.toBooleanOption)

  /** `str(path)` parsed by `parse`; a malformed value fails naming the key
    * and the value, not just the value. */
  private def typed[A](path: String, kind: String)(
      parse: String => Option[A]): A = {
    val v = str(path)
    parse(v).getOrElse(throw new IllegalArgumentException(
      s"config key '$path' = '$v' is not $kind"))
  }

  /** This config with `overrides` layered on top (override wins). */
  def overlay(overrides: Map[String, String]): GraftConfig =
    GraftConfig(entries ++ overrides)
}

object GraftConfig {

  val empty: GraftConfig = GraftConfig(Map.empty)

  /** THE default for every knob — single source of truth. The bundled
    * `graft.conf` resource documents the same values (a spec asserts
    * they never drift), and call sites fall back through here so a
    * missing resource cannot silently change behavior. */
  val Defaults: Map[String, String] = Map(
    "graft.producer.data.sourceDir" -> "/root/testdata/sf0.001",
    "graft.producer.data.table" -> "events",
    "graft.producer.data.batchSize" -> "0",
    "graft.producer.data.intervalSeconds" -> "0",
    "graft.producer.file.outputDir" -> "/tmp/graft_stream_demo/incoming",
    "graft.producer.file.format" -> "json",
    "graft.dashboard.ticks" -> "1",
    "graft.dashboard.refreshSeconds" -> "5",
    "graft.dashboard.topK" -> "10",
    "graft.dashboard.htmlFile" -> "",
    // <= 0 disables the HTTP server; 0 would bind an ephemeral port,
    // only useful under tests that read it back off the server
    "graft.dashboard.port" -> "-1",
    // non-empty = read the StreamMetrics parquet log here and render
    // the "stream freshness" panel (latest batch + lag per query run)
    "graft.dashboard.metricsDir" -> "",
    "graft.consumer.spark.shufflePartitions" -> "8",
    "graft.consumer.source.directory" -> "/tmp/graft_stream_demo/incoming",
    "graft.consumer.source.format" -> "json",
    "graft.consumer.source.maxFilesPerTrigger" -> "2",
    "graft.consumer.output.directory" -> "/tmp/graft_stream_demo/processed",
    "graft.consumer.output.format" -> "parquet",
    "graft.consumer.output.checkpointDir" -> "/tmp/graft_stream_demo/checkpoint",
    "graft.consumer.output.triggerSeconds" -> "1",
    "graft.consumer.output.drainOnce" -> "false",
    // non-empty = attach a StreamMetrics listener to the consumer
    // query, appending one metrics row per micro-batch here
    "graft.consumer.output.metricsDir" -> "")

  /** Parse HOCON-subset text into dotted-path entries. */
  def parse(text: String): GraftConfig = {
    val path = mutable.ArrayBuffer.empty[String]
    val out = mutable.LinkedHashMap.empty[String, String]
    text.linesIterator.map(stripComment)
      // single-line blocks (`file { outputDir = x }`) normalize to the
      // one-construct-per-line shape: break after every unquoted `{`
      // and around every unquoted `}`
      .flatMap(splitBraces)
      .map(_.trim).filter(_.nonEmpty)
      .foreach { line =>
        if (line == "}") {
          require(path.nonEmpty, "unbalanced '}' in config")
          path.remove(path.length - 1)
        } else if (line.endsWith("{")) {
          path += line.dropRight(1).trim
        } else {
          val sep = line.indexWhere(c => c == '=' || c == ':')
          require(sep > 0, s"not a key=value line: '$line'")
          val key = (path :+ line.take(sep).trim).mkString(".")
          out(key) = unquote(line.drop(sep + 1).trim)
        }
      }
    require(path.isEmpty, s"unclosed block(s): ${path.mkString(".")}")
    GraftConfig(out.toMap)
  }

  /** Load from a file path; missing file = empty config (defaults-only
    * runs need no conf on disk). */
  def load(confFile: String): GraftConfig = {
    val p = Paths.get(confFile)
    if (Files.exists(p)) parse(Files.readString(p)) else empty
  }

  /** Layered load — code `Defaults`, then the bundled `graft.conf`
    * resource, then an optional site file — the reference's
    * load-application.conf-then-override shape. */
  def loadWithDefaults(confFile: Option[String] = None): GraftConfig = {
    val base = GraftConfig(Defaults).overlay(resourceConf().entries)
    confFile.fold(base)(f => base.overlay(load(f).entries))
  }

  /** The bundled resource alone (for the drift-guard spec). */
  def resourceConf(): GraftConfig = {
    val in = getClass.getResourceAsStream("/graft.conf")
    if (in == null) empty
    else try parse(new String(in.readAllBytes(), "UTF-8"))
    finally in.close()
  }

  /** Logical-line split: newline after `{`, around `}` (quote-aware). */
  private def splitBraces(line: String): Seq[String] = {
    val parts = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    line.foreach {
      case '"' => inQuote = !inQuote; cur += '"'
      case '{' if !inQuote => cur += '{'; parts += cur.result(); cur.clear()
      case '}' if !inQuote =>
        parts += cur.result(); parts += "}"; cur.clear()
      case c => cur += c
    }
    parts += cur.result()
    parts.toSeq
  }

  /** Comment starts at `#`, or at `//` only at line start / after
    * whitespace (so bare URI values — hdfs://, s3a:// — survive),
    * outside quotes. */
  private def stripComment(line: String): String = {
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inQuote = !inQuote
      else if (!inQuote && (c == '#' ||
        (c == '/' && i + 1 < line.length && line.charAt(i + 1) == '/' &&
          (i == 0 || line.charAt(i - 1).isWhitespace))))
        return line.take(i)
      i += 1
    }
    line
  }

  private def unquote(v: String): String =
    if (v.length >= 2 && v.head == '"' && v.last == '"')
      v.substring(1, v.length - 1)
    else v
}
