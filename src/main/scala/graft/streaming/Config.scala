package graft.streaming

import scala.jdk.CollectionConverters._

/** YAML stream configuration, mirroring the reference's
  * `StreamConfig { input, pipeline, output, error_output?, buffer? }`
  * (crates/arkflow-core/src/stream/mod.rs:1452-1465, config.rs:97-152).
  *
  * Components are (type, options) pairs resolved against the registries
  * in [[Engine]]; options stay stringly-typed like the reference's YAML.
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
      // TemporaryConfig: name/table_name/key only, no `type:`), so they
      // parse through the dedicated reference shape below
      val children =
        (cm.get("inputs") match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.map(o => component(o.asInstanceOf[Object]))
          case _ => Nil
        }) ++
        (cm.get("temporary_list") match {
          case Some(l: java.util.List[_]) =>
            l.asScala.toSeq.map(o => temporaryRef(o.asInstanceOf[Object]))
          case _ => Nil
        })
      val opts = (cm - "type" - "inputs" - "temporary_list" - "name").flatMap {
        // nested config blocks (the buffer's `join:` map, the file
        // input's `store:`, the temporary's codec/mode/redis_type/key
        // maps, the nats/pulsar `auth:`, pulsar's `retry_config:` and
        // its Expr<String> `topic:`) flatten to dotted keys: join.query,
        // mode.url, key.value, auth.token … ([[nested]] reads them back)
        case (k, m: java.util.Map[_, _]) if Set("join", "store", "codec", "mode",
            "redis_type", "key", "auth", "retry_config", "topic")(k) =>
          dotted(k, anyMap(m))
        // the memory input's preloaded `messages:` list
        // (input/memory.rs) and the python processor's `python_path:`
        // (processor/python.rs) flatten to indexed keys messages.0, … so
        // each entry survives the flat option map verbatim
        case (k, l: java.util.List[_]) if k == "messages" || k == "python_path" =>
          l.asScala.zipWithIndex.map { case (v, i) =>
            s"$k.$i" -> stringify(v.asInstanceOf[Object]) }.toMap
        case (k, v) => Map(k -> stringify(v))
      }
      ComponentConf(kind, opts, children, cm.get("name").map(_.toString))
    }
    def dotted(prefix: String, m: Map[String, Object]): Map[String, String] =
      m.flatMap {
        case (k, v: java.util.Map[_, _]) => dotted(s"$prefix.$k", anyMap(v))
        case (k, v) => Map(s"$prefix.$k" -> stringify(v))
      }
    // A `temporary_list` entry (processor/sql.rs TemporaryConfig):
    // `name` references a stream-level temporary, `table_name` is the
    // SQL view the fetched rows register under, `key` is the lookup key
    // (a `{type: value, value: …}` constant or `{type: expr, expr: …}`
    // batch expression). Parsed as kind `temporary_ref` with the key map
    // flattened to dotted options — resolution happens in the sql
    // builder against StreamConf.temporaries.
    def temporaryRef(o: Object): ComponentConf = {
      val cm = anyMap(o.asInstanceOf[java.util.Map[_, _]])
      val name = cm.getOrElse("name", throw new IllegalArgumentException(
        s"temporary_list entry without name: $cm")).toString
      val opts = (cm - "name").flatMap {
        case (k, m: java.util.Map[_, _]) => dotted(k, anyMap(m))
        case (k, v) => Map(k -> stringify(v))
      }
      ComponentConf("temporary_ref", opts, Nil, Some(name))
    }
    val processors = m.get("pipeline") match {
      case Some(p: java.util.Map[_, _]) =>
        anyMap(p).get("processors") match {
          case Some(l: java.util.List[_]) => l.asScala.toSeq.map(o => component(o.asInstanceOf[Object]))
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    // stream-level `temporary:` declarations (core temporary/mod.rs
    // TemporaryConfig — typed components with a `name`), referenced by
    // sql processors' temporary_list entries
    val temporaries = m.get("temporary") match {
      case Some(l: java.util.List[_]) =>
        l.asScala.toSeq.map(o => component(o.asInstanceOf[Object]))
      case _ => Nil
    }
    // `durability:` block (stream/mod.rs WalConfig) — flattened; consumed
    // by Engine.runStream (path → the Spark checkpointLocation, which IS
    // this engine's WAL)
    val durability = m.get("durability") match {
      case Some(d: java.util.Map[_, _]) => anyMap(d).map {
        case (k, v) => k -> stringify(v) }
      case _ => Map.empty[String, String]
    }
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

  /** Flatten nested YAML values to strings (scalars as-is, maps/lists as
    * their YAML-ish toString) — component builders re-parse what they need. */
  private def stringify(v: Object): String = v match {
    case null => ""
    case s: String => s
    case other => other.toString
  }

  /** A block [[parseStream]] flattened to dotted keys, read back:
    * `nested(o, "auth")` turns `auth.type`/`auth.token` into
    * `type`/`token`. Empty when the block is absent. */
  def nested(o: Map[String, String], block: String): Map[String, String] =
    o.collect { case (k, v) if k.startsWith(block + ".") =>
      k.stripPrefix(block + ".") -> v }
}
