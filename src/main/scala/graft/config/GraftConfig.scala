package graft.config

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Service configuration (SURVEY §2.1 S3–S5), mirroring the reference's
  * semantics (`config/config.go:38-60`): a YAML file provides
  * `nats.url`, `clickhouse.url`, `log.format`, `log.level`, `subjects`;
  * environment variables override any scalar by the upper-cased
  * `.`→`_` key (`NATS_URL` overrides `nats.url` — the viper
  * `AutomaticEnv` + `SetEnvKeyReplacer` behavior at `config.go:45-46`).
  *
  * The parser is a deliberate YAML *subset* (two-level mappings, string
  * scalars, string lists) — exactly the shape of the reference's
  * `nats.yml`; no external dependency.
  */
final case class GraftConfig(
    natsUrl: String,
    clickhouseUrl: String,
    logFormat: String,
    logLevel: String,
    subjects: Seq[String])

object GraftConfig {

  /** Load + env-override, failing (Left) on unreadable file or parse
    * error — the reference exits on both (`main.go:36-44`). */
  def load(path: String, env: Map[String, String] = sys.env): Either[String, GraftConfig] =
    for {
      text <- Try(Files.readAllLines(Paths.get(path)).asScala.toSeq)
        .toEither.left.map(e => s"failed to read config file: ${e.getMessage}")
      kv <- parseYamlSubset(text)
      cfg <- build(kv, env)
    } yield cfg

  /** Two-level YAML subset → flat dotted keys + the `subjects` list. */
  private[config] def parseYamlSubset(lines: Seq[String])
      : Either[String, (Map[String, String], Seq[String])] = {
    val scalars = Map.newBuilder[String, String]
    val lists = collection.mutable.Map[String, Vector[String]]()
    var section: Option[String] = None
    var listKey: Option[String] = None
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '"' && t.last == '"') ||
        (t.head == '\'' && t.last == '\''))) t.substring(1, t.length - 1)
      else t
    }
    // Strip comments quote-aware: a '#' inside a quoted scalar (e.g. a
    // password or URL fragment) is content, not a comment.
    def stripComment(raw: String): String = {
      var quote: Char = 0
      val b = new StringBuilder
      var done = false
      for (c <- raw if !done) {
        if (quote != 0) { if (c == quote) quote = 0; b.append(c) }
        else if (c == '"' || c == '\'') { quote = c; b.append(c) }
        else if (c == '#') done = true
        else b.append(c)
      }
      b.toString
    }
    for (raw <- lines) {
      val line = stripComment(raw)
      val trimmed = line.trim
      if (trimmed.nonEmpty) {
        val indented = line.startsWith(" ") || line.startsWith("\t")
        if (!indented && trimmed.endsWith(":")) {
          val key = trimmed.dropRight(1).trim
          section = Some(key); listKey = Some(key)
        } else if (indented && trimmed.startsWith("- ")) {
          listKey match {
            case Some(k) => lists(k) = lists.getOrElse(k, Vector()) :+ unquote(trimmed.drop(2))
            case None => return Left(s"failed to parse config: stray list item '$trimmed'")
          }
        } else if (trimmed.contains(":")) {
          val Array(k, v @ _*) = trimmed.split(":", 2)
          val value = unquote(v.mkString(":"))
          if (indented) section match {
            case Some(sec) => scalars += s"$sec.${k.trim}" -> value
            case None => return Left(s"failed to parse config: indented key '$trimmed' outside a section")
          } else {
            scalars += k.trim -> value
            section = None; listKey = None
          }
        } else return Left(s"failed to parse config: unrecognized line '$trimmed'")
      }
    }
    Right((scalars.result(), lists.getOrElse("subjects", Vector())))
  }

  private def build(parsed: (Map[String, String], Seq[String]),
      env: Map[String, String]): Either[String, GraftConfig] = {
    val (kv, subjects) = parsed
    // AutomaticEnv: the env var named by the '.'→'_' upper-cased key wins.
    def get(key: String, default: String = ""): String =
      env.getOrElse(key.toUpperCase.replace('.', '_'), kv.getOrElse(key, default))
    Right(GraftConfig(
      natsUrl = get("nats.url"),
      clickhouseUrl = get("clickhouse.url"),
      logFormat = get("log.format", "text"),
      logLevel = get("log.level", "info"),
      subjects = subjects))
  }

  /** Sink-connection settings parsed from a `ch://user:pass@host:port` URL —
    * the reference's `ConnectClickHouse` URL handling
    * (`connection/connection.go:31-38`) plus its fixed client settings
    * (`:55-60`), surfaced as writer options a JDBC/connector sink would
    * consume. The 30 s dial ceiling (`:46`) is fixed in the sink's wire
    * transports. */
  final case class SinkConn(user: String, password: String,
      host: String, port: Int,
      maxExecutionTimeSec: Int = 60, compression: String = "lz4") {

    /** The client settings as sink options for
      * `graft.sinks.BatchInsertSinkProvider`: pass via
      * `.options(conn.writerOptions)` and the `ch://` URL's compression/
      * timeout semantics apply to that sink's write path — `Service
      * --sink blocks` does exactly this; the default `--sink parquet`
      * pipeline streams parquet via foreachBatch instead. */
    def writerOptions: Map[String, String] = Map(
      "compression" -> compression,
      "maxExecutionTimeSec" -> maxExecutionTimeSec.toString)
  }

  def parseSinkUrl(url: String): Either[String, SinkConn] = {
    val re = "^[a-z]+://([^:@/]+)(?::([^@/]*))?@([^:/]+):([0-9]+)$".r
    url match {
      case re(user, pass, host, port) =>
        // Unbounded digit runs overflow toInt; out-of-range ports are a
        // parse error (Left), not an exception — the reference exits with
        // a parse error on a bad DSN.
        Try(port.toInt).toOption.filter(p => p >= 1 && p <= 65535) match {
          case Some(p) => Right(SinkConn(user, Option(pass).getOrElse(""), host, p))
          case None => Left(s"failed to parse ClickHouse URL: $url")
        }
      case _ => Left(s"failed to parse ClickHouse URL: $url")
    }
  }
}
