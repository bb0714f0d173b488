package graft.streaming

import scala.jdk.CollectionConverters._

/** YAML stream configuration, mirroring the reference's
  * `StreamConfig { input, pipeline, output, error_output?, buffer? }`
  * (crates/arkflow-core/src/stream/mod.rs:1452-1465, config.rs:97-152).
  *
  * Components are (type, options) pairs resolved against the registries
  * in [[Engine]]. Options are one flat string map under one shape rule
  * (`Config.flatten`): nested maps become dotted keys and lists indexed
  * keys. Builders read a block back with `Config.nested`, a list with
  * `Config.list` and an `Expr<String>` object with `Config.expr`, so no
  * builder parses a YAML shape of its own.
  */
/** `children` carries nested child components — the `inputs:` list of a
  * `multiple_inputs` input (input/multiple_inputs.rs:30-41). `name` is
  * the component's own input name (used as its window-join view name). */
final case class ComponentConf(kind: String, options: Map[String, String],
  children: Seq[ComponentConf] = Nil, name: Option[String] = None)

final case class StreamConf(
  input: ComponentConf,
  processors: Seq[ComponentConf],
  output: ComponentConf,
  errorOutput: Option[ComponentConf],
  buffer: Option[ComponentConf],
  id: Option[String] = None,
  /** stream-level `durability:` block (the reference's WAL config —
    * enabled/path/sync…); maps onto the Spark checkpoint, which IS this
    * engine's WAL (offsets + commits). */
  durability: Map[String, String] = Map.empty,
  /** stream-level `temporary:` declarations (core temporary/mod.rs) —
    * named lookup providers the sql processor's `temporary_list`
    * references. */
  temporaries: Seq[ComponentConf] = Nil)

/** Optional embedded control-plane server (the reference engine serves
  * its HTTP API beside the streams — arkflow/src/main.rs `serve(...)`).
  * `versionDir` (YAML `version_dir`) enables the config-management
  * routes, backed by a [[ConfigVersionStore]] at that hadoop-fs path. */
final case class HttpConf(port: Int, bearerToken: Option[String],
  versionDir: Option[String] = None)

final case class EngineConf(streams: Seq[StreamConf],
  http: Option[HttpConf] = None)

object Config {

  /** humantime-style duration strings, as the reference configs use
    * (config durations like `interval: 5s`, `timeout: 100ms`): ns/us/ms/
    * s/m/h suffixes, bare numbers are milliseconds, Spark-style
    * "5 seconds" passes through untouched via the Right branch.
    * Returns milliseconds.
    */
  def parseDurationMs(s: String): Long = {
    val t = s.trim
    val m = "^([0-9]+)\\s*(ns|us|µs|ms|s|m|h)?$".r
    t match {
      case m(n, unit) =>
        val v = n.toLong
        unit match {
          case "ns" => v / 1000000L
          case "us" | "µs" => v / 1000L
          case "ms" | null => v
          case "s" => v * 1000L
          case "m" => v * 60000L
          case "h" => v * 3600000L
        }
      case other =>
        throw new IllegalArgumentException(s"cannot parse duration: $other")
    }
  }

  /** Spark trigger string from either humantime ("5s") or Spark
    * ("5 seconds") duration syntax. */
  def triggerInterval(s: String): String =
    try s"${parseDurationMs(s)} milliseconds"
    catch { case _: IllegalArgumentException => s } // Spark syntax as-is

  /** Control-plane stream identities (reference stream/mod.rs:1470-1490
    * `effective_id`/`validate_id`): each stream's configured `id`, or
    * `stream-{index}`; IDs must be URL-safe (they are control-plane
    * resource names) and unique across the config. */
  def streamIds(conf: EngineConf): Seq[String] = {
    val ids = conf.streams.zipWithIndex.map { case (s, i) =>
      val id = s.id.getOrElse(s"stream-$i")
      if (!id.matches("[A-Za-z0-9._-]+"))
        throw new IllegalArgumentException(
          s"stream id '$id' at index $i is not URL-safe ([A-Za-z0-9._-]+)")
      id
    }
    ids.diff(ids.distinct).headOption.foreach(d =>
      throw new IllegalArgumentException(s"duplicate stream id '$d'"))
    ids
  }

  /** Parse the YAML text of an engine config (`streams: [...]`). */
  def fromYaml(yaml: String): EngineConf = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](yaml)
    val streams = root.get("streams") match {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case m: java.util.Map[_, _] => parseStream(anyMap(m))
        case other => throw new IllegalArgumentException(s"stream entry: $other")
      }
      case _ => throw new IllegalArgumentException("config needs a `streams` list")
    }
    val http = root.get("http") match {
      case m: java.util.Map[_, _] =>
        val hm = anyMap(m)
        Some(HttpConf(hm.get("port").map(_.toString.toInt).getOrElse(0),
          hm.get("bearer_token").map(_.toString),
          hm.get("version_dir").map(_.toString)))
      case _ => None
    }
    EngineConf(streams, http)
  }

  private def anyMap(m: java.util.Map[_, _]): Map[String, Object] =
    m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap

  /** The entries of a YAML list; empty when `v` is absent or no list. */
  private def listOf(v: Option[Object]): Seq[Object] =
    v.collect { case l: java.util.List[_] => l.asScala.toSeq.map(_.asInstanceOf[Object]) }
      .getOrElse(Nil)

  /** Stream-level keys the parser understands; anything else is most
    * likely a TYPO (`bufer:`, `piplines:`) that YAML would otherwise
    * swallow silently — warn loudly (the reference's serde also ignores
    * unknown fields, so this is a strict improvement, not a divergence
    * in what runs). */
  private val knownStreamKeys = Set(
    "input", "pipeline", "output", "error_output", "buffer", "id",
    "thread_num", "temporary", "durability", "logging")

  private def parseStream(m: Map[String, Object]): StreamConf = {
    (m.keySet -- knownStreamKeys).foreach(k =>
      System.err.println(s"[config] WARN unknown stream key '$k' ignored " +
        s"(known: ${knownStreamKeys.toSeq.sorted.mkString(", ")})"))
    def component(o: Object): ComponentConf = {
      val cm = anyMap(o.asInstanceOf[java.util.Map[_, _]])
      val kind = cm.getOrElse("type",
        throw new IllegalArgumentException(s"component without type: $cm")).toString
      // child components: the `inputs:` list of multiple_inputs (typed
      // components), plus the sql processor's `temporary_list` — whose
      // entries are NOT typed components but NAME REFERENCES to
      // stream-level `temporary:` declarations (processor/sql.rs
      // TemporaryConfig: name/table_name/key only, no `type:`), parsed
      // as kind `temporary_ref` and resolved by the sql builder against
      // StreamConf.temporaries
      val children = listOf(cm.get("inputs")).map(component) ++
        listOf(cm.get("temporary_list")).map { o =>
          val rm = anyMap(o.asInstanceOf[java.util.Map[_, _]])
          val name = rm.getOrElse("name", throw new IllegalArgumentException(
            s"temporary_list entry without name: $rm")).toString
          ComponentConf("temporary_ref", flatten(rm - "name"), Nil, Some(name))
        }
      ComponentConf(kind, flatten(cm - "type" - "inputs" - "temporary_list" - "name"),
        children, cm.get("name").map(_.toString))
    }
    val processors = m.get("pipeline").collect { case p: java.util.Map[_, _] =>
      listOf(anyMap(p).get("processors")).map(component) }.getOrElse(Nil)
    // stream-level `temporary:` declarations (core temporary/mod.rs
    // TemporaryConfig — typed components with a `name`), referenced by
    // sql processors' temporary_list entries
    val temporaries = listOf(m.get("temporary")).map(component)
    // `durability:` block (stream/mod.rs WalConfig) — flattened; consumed
    // by Engine.runStream (path → the Spark checkpointLocation, which IS
    // this engine's WAL)
    val durability = m.get("durability").collect {
      case d: java.util.Map[_, _] => flatten(anyMap(d)) }.getOrElse(Map.empty)
    StreamConf(
      input = component(m("input")),
      processors = processors,
      output = component(m("output")),
      errorOutput = m.get("error_output").map(component),
      buffer = m.get("buffer").map(component),
      id = m.get("id").map(_.toString),
      durability = durability,
      temporaries = temporaries)
  }

  /** The one YAML shape rule: a component's options become one flat
    * string map. A nested map becomes dotted keys (`auth: {token: t}` →
    * `auth.token`), a list becomes indexed keys (`topics: [a, b]` →
    * `topics.0`, `topics.1`; a list of maps → `points.0.name`), at any
    * depth; a scalar keeps its key. Builders read the shapes back through
    * [[nested]], [[list]] and [[expr]]. */
  private def flatten(m: Map[String, Object]): Map[String, String] = {
    def go(key: String, v: Object): Seq[(String, String)] = v match {
      case n: java.util.Map[_, _] =>
        anyMap(n).toSeq.flatMap { case (k, x) => go(s"$key.$k", x) }
      case l: java.util.List[_] =>
        l.asScala.toSeq.zipWithIndex.flatMap { case (x, i) =>
          go(s"$key.$i", x.asInstanceOf[Object]) }
      case scalar => Seq(key -> stringify(scalar))
    }
    m.toSeq.flatMap { case (k, v) => go(k, v) }.toMap
  }

  /** A YAML scalar as its option string; null (`key:` with no value) is
    * the empty string. */
  private def stringify(v: Object): String = if (v == null) "" else v.toString

  /** A block [[parseStream]] flattened to dotted keys, read back:
    * `nested(o, "auth")` turns `auth.type`/`auth.token` into
    * `type`/`token`. Empty when the block is absent. */
  def nested(o: Map[String, String], block: String): Map[String, String] =
    o.collect { case (k, v) if k.startsWith(block + ".") =>
      k.stripPrefix(block + ".") -> v }

  /** The entries of a YAML list flattened to `key.0`, `key.1`, … in index
    * order, verbatim; empty when `key` holds no list. For options whose
    * entries may contain any separator (the memory input's `messages`, the
    * python processor's `python_path`). */
  def indexed(o: Map[String, String], key: String): Seq[String] =
    nested(o, key).toSeq.collect { case (i, v) if i.nonEmpty && i.forall(_.isDigit) =>
      i.toInt -> v }.sortBy(_._1).map(_._2)

  /** A list-valued option, read in either YAML shape: a list
    * (`topics: [a, b]`, entries in order, verbatim) or a scalar split on
    * `sep` (`topics: "a, b"`), each entry trimmed and empty ones dropped.
    * Empty when the key is absent. */
  def list(o: Map[String, String], key: String, sep: String = ","): Seq[String] =
    indexed(o, key) match {
      case Seq() => o.get(key).toSeq.flatMap(_.split(sep)).map(_.trim).filter(_.nonEmpty)
      case entries => entries
    }

  /** The reference's `Expr<String>` option (a routing target or lookup
    * key): `{type: value, value: v}` decodes to `Left(v)`, a literal;
    * `{type: expr, expr: e}` to `Right(e)`, a SQL expression over the
    * batch. A bare scalar goes through `bare` — a literal unless the
    * builder reads its bare form as an expression. None when the key is
    * absent; an unknown `type` or a missing field throws. */
  def expr(o: Map[String, String], key: String,
      bare: String => Either[String, String] = Left(_)): Option[Either[String, String]] = {
    val m = nested(o, key)
    def field(f: String) = m.getOrElse(f,
      throw new IllegalArgumentException(s"$key $f object without '$f'"))
    if (m.isEmpty) o.get(key).map(bare)
    else m.get("type") match {
      case Some("value") => Some(Left(field("value")))
      case Some("expr") => Some(Right(field("expr")))
      case other => throw new IllegalArgumentException(
        s"$key type must be value or expr, got '${other.getOrElse("")}'")
    }
  }
}
