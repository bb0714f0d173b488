package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** VRL stdlib shims that need more than a name alias (processor/vrl.rs —
  * the reference embeds the full VRL runtime; the remap processor maps
  * its stdlib onto Spark's codegen'd functions and fills the gaps here).
  * Both are RuntimeReplaceable COMPOSITIONS of Spark's own expressions —
  * the optimizer swaps in the replacement before codegen, so nothing
  * here adds an interpreted call to the hot path.
  */
object VrlLib {
  /** Name -> builder of every `graft_vrl_*` function the remap processor
    * compiles VRL calls onto; part of [[Registry.functions]]. */
  val builders: Seq[(String, Registry.Builder)] = {
    val b = Seq.newBuilder[(String, Registry.Builder)]
    def add(name: String, build: Registry.Builder): Unit = b += name -> build
    /** the base64 `charset:` option — "standard" | "url_safe" → urlSafe */
    def base64Charset(e: Expression, what: String): Boolean = e match {
      case Literal(s: UTF8String, StringType) => s.toString match {
        case "standard" => false
        case "url_safe" => true
        case other => throw new IllegalArgumentException(
          s"$what: unknown charset `$other` (standard url_safe)")
      }
      case _ => throw new IllegalArgumentException(
        s"$what: the charset argument must be a string literal")
    }
    add("graft_vrl_length", { exprs =>
      require(exprs.size == 1, "length(value) takes 1 argument")
      VrlLength(exprs.head)
    })
    add("graft_vrl_strptime", { exprs =>
      require(exprs.size == 2,
        "parse_timestamp(value, format) takes 2 arguments")
      VrlStrptime(exprs.head, exprs(1))
    })
    add("graft_vrl_parse_url", { exprs =>
      // VRL's 1-arg parse_url(u) → the full parts struct; a 2-arg call
      // falls through to Spark's own parse_url(u, part) untouched
      if (exprs.size == 2) new ParseUrl(exprs.toSeq)
      else {
        require(exprs.size == 1, "parse_url(url) takes 1 argument")
        VrlLib.parseUrlStruct(exprs.head)
      }
    })
    add("graft_vrl_parse_regex", { exprs =>
      require(exprs.size == 2, "parse_regex(value, pattern) takes 2 arguments")
      VrlLib.parseRegexStruct(exprs.head, exprs(1))
    })
    add("graft_vrl_parse_kv", { exprs =>
      require(exprs.size >= 1 && exprs.size <= 3,
        "parse_key_value(value[, key_value_delimiter[, field_delimiter]]) " +
          "takes 1-3 arguments")
      VrlParseKeyValue(exprs.head,
        exprs.lift(1).getOrElse(Literal("=")),
        exprs.lift(2).getOrElse(Literal(" ")))
    })
    add("graft_vrl_parse_syslog", { exprs =>
      require(exprs.size == 1, "parse_syslog(value) takes 1 argument")
      VrlLib.parseSyslogStruct(exprs.head)
    })
    add("graft_vrl_ip_cidr_contains", { exprs =>
      require(exprs.size == 2, "ip_cidr_contains(cidr, ip) takes 2 arguments")
      // round 13: byte-wise kernel covering BOTH families (the earlier
      // v4 mask arithmetic answered null for v6 — a documented
      // divergence now closed); malformed input throws like VRL's
      // fallible form
      VrlCidrContains(exprs.head, exprs(1))
    })
    add("graft_vrl_is_ipv4", { exprs =>
      require(exprs.size == 1, "is_ipv4(value) takes 1 argument")
      RLike(exprs.head, Literal(VrlLib.Ipv4Pattern))
    })
    add("graft_vrl_is_ipv6", { exprs =>
      require(exprs.size == 1, "is_ipv6(value) takes 1 argument")
      RLike(exprs.head, Literal(VrlLib.Ipv6Pattern))
    })
    add("graft_vrl_parse_grok", { exprs =>
      require(exprs.size == 2, "parse_grok(value, pattern) takes 2 arguments")
      VrlLib.parseGrokStruct(exprs.head, exprs(1))
    })
    add("graft_vrl_parse_common_log", { exprs =>
      require(exprs.size == 1, "parse_common_log(value) takes 1 argument")
      VrlLib.parseCommonLogStruct(exprs.head, combined = false)
    })
    add("graft_vrl_parse_apache_log", { exprs =>
      require(exprs.size == 2,
        "parse_apache_log(value, format) takes 2 arguments")
      VrlLib.parseApacheLogStruct(exprs.head, exprs(1))
    })
    add("graft_vrl_parse_nginx_log", { exprs =>
      require(exprs.size == 2,
        "parse_nginx_log(value, format) takes 2 arguments")
      VrlLib.parseNginxLogStruct(exprs.head, exprs(1))
    })
    add("graft_vrl_parse_duration", { exprs =>
      require(exprs.size == 2,
        "parse_duration(value, unit) takes 2 arguments")
      VrlLib.parseDuration(exprs.head, exprs(1))
    })
    add("graft_vrl_encode_base64", { exprs =>
      require(exprs.size >= 1 && exprs.size <= 3,
        "encode_base64(value[, padding[, charset]]) takes 1-3 arguments")
      // VRL options: padding (bool) and charset "standard"|"url_safe";
      // the optionless form stays on Spark's own codegen'd Base64.
      // VRL named args are ORDER-FREE and the generic label strip keeps
      // positions, so either option can land in either slot — a string
      // literal in slot 1 is unambiguously the charset, and a boolean
      // literal after it is then the padding option (only two string
      // literals are actually "charset given twice").
      val (padding, slot1Charset) = exprs.lift(1) match {
        case None => (true, None)
        case Some(Literal(b: Boolean, BooleanType)) => (b, None)
        case Some(e @ Literal(_: UTF8String, StringType)) =>
          val pad = exprs.lift(2) match {
            case None => true
            case Some(Literal(b: Boolean, BooleanType)) => b
            case Some(_) => throw new IllegalArgumentException(
              "encode_base64: charset given twice")
          }
          (pad, Some(base64Charset(e, "encode_base64")))
        case _ => throw new IllegalArgumentException(
          "encode_base64: padding must be a boolean literal")
      }
      val urlSafe = slot1Charset.getOrElse(exprs.lift(2) match {
        case None => false
        case Some(e) => base64Charset(e, "encode_base64")
      })
      if (padding && !urlSafe) Base64(Cast(exprs.head, BinaryType))
      else VrlBase64(Cast(exprs.head, BinaryType), urlSafe, padding,
        encode = true)
    })
    add("graft_vrl_decode_base64", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "decode_base64(value[, charset]) takes 1-2 arguments")
      exprs.lift(1) match {
        case None => Cast(new UnBase64(exprs.head), StringType)
        case Some(e) =>
          VrlBase64(Cast(exprs.head, StringType), base64Charset(e, "decode_base64"),
            padding = true, encode = false)
      }
    })
    add("graft_vrl_strip_ansi", { exprs =>
      require(exprs.size == 1,
        "strip_ansi_escape_codes(value) takes 1 argument")
      // CSI sequences (ESC [ params intermediates final) plus bare
      // two-char ESC sequences — the forms real terminal output emits
      RegExpReplace(exprs.head,
        Literal("\u001B(?:\\[[0-9;?]*[ -/]*[@-~]|[@-_])"), Literal(""))
    })
    add("graft_vrl_ip_aton", { exprs =>
      require(exprs.size == 1, "ip_aton(value) takes 1 argument")
      VrlLib.ipv4ToLong(exprs.head)
    })
    add("graft_vrl_ip_ntoa", { exprs =>
      require(exprs.size == 1, "ip_ntoa(value) takes 1 argument")
      VrlLib.longToIpv4(exprs.head)
    })
    add("graft_vrl_to_syslog_severity", { exprs =>
      require(exprs.size == 1, "to_syslog_severity(value) takes 1 argument")
      VrlLib.toSyslogSeverity(exprs.head)
    })
    add("graft_vrl_to_syslog_level", { exprs =>
      require(exprs.size == 1, "to_syslog_level(value) takes 1 argument")
      VrlLib.toSyslogLevel(exprs.head)
    })
    add("graft_vrl_parse_user_agent", { exprs =>
      require(exprs.size == 1, "parse_user_agent(value) takes 1 argument")
      VrlLib.parseUserAgentStruct(exprs.head)
    })
    add("graft_vrl_parse_query_string", { exprs =>
      require(exprs.size == 1, "parse_query_string(value) takes 1 argument")
      // URL-decoding kernel (str_to_map decodes nothing) —
      // [[graft.functions.VrlParseQueryString]]
      VrlParseQueryString(exprs.head)
    })
    def literalString(e: Expression, what: String): String = e match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        s"$what must be a string literal")
    }
    add("graft_vrl_parse_csv", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "parse_csv(value[, delimiter]) takes 1-2 arguments")
      // config argument validated at BUILD (the sha2-variant pattern):
      // a bad delimiter fails analysis naming the culprit instead of
      // killing the micro-batch row-by-row inside the kernel
      val delim = exprs.lift(1)
        .map(literalString(_, "parse_csv: the delimiter argument"))
        .getOrElse(",")
      require(delim.length == 1,
        s"parse_csv: delimiter must be one character, got `$delim`")
      VrlParseCsv(exprs.head, Literal(delim))
    })
    add("graft_vrl_encode_csv", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "encode_csv(array[, delimiter]) takes 1-2 arguments")
      val delim = exprs.lift(1)
        .map(literalString(_, "encode_csv: the delimiter argument"))
        .getOrElse(",")
      require(delim.length == 1,
        s"encode_csv: delimiter must be one character, got `$delim`")
      VrlEncodeCsv(exprs.head, Literal(delim))
    })
    add("graft_vrl_parse_int", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "parse_int(value[, base]) takes 1-2 arguments")
      val base = exprs.lift(1).map {
        case Literal(b: Int, IntegerType) => b
        case Literal(b: Long, LongType) => b.toInt
        case _ => throw new IllegalArgumentException(
          "parse_int: the base argument must be an integer literal")
      }.getOrElse(0)
      require(base == 0 || (base >= 2 && base <= 36),
        s"parse_int: base must be 2-36, got $base")
      VrlParseInt(exprs.head, base)
    })
    add("graft_vrl_to_timestamp", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "to_timestamp/from_unix_timestamp(value[, unit]) takes 1-2 arguments")
      val unit = exprs.lift(1)
        .map(literalString(_, "to_timestamp: the unit argument"))
        .getOrElse("seconds")
      require(Seq("seconds", "milliseconds", "nanoseconds").contains(unit),
        s"to_timestamp: unit must be seconds|milliseconds|nanoseconds, got `$unit`")
      VrlToTimestamp(exprs.head, unit)
    })
    add("graft_vrl_parse_cef", { exprs =>
      require(exprs.size == 1, "parse_cef(value) takes 1 argument")
      VrlParseCef(exprs.head)
    })
    Seq("camel", "pascal", "snake", "screaming_snake", "kebab").foreach { style =>
      add(s"graft_vrl_${style}case", { exprs =>
        require(exprs.size == 1, s"${style}case(value) takes 1 argument")
        VrlCaseConvert(exprs.head, style)
      })
    }
    Seq(("encrypt", true), ("decrypt", false)).foreach { case (name, enc) =>
      add(s"graft_vrl_$name", { exprs =>
        require(exprs.size == 4,
          s"$name(value, algorithm, key, iv: ...) takes 4 arguments")
        // spelling is case-insensitive (docs and programs mix
        // "ChaCha20-Poly1305" / "CHACHA20-POLY1305")
        val algo = literalString(exprs(1), s"$name: the algorithm argument")
          .toUpperCase(java.util.Locale.ROOT)
        val (transform, keyLen) = VrlCipher.Variants.getOrElse(algo,
          throw new IllegalArgumentException(
            s"$name: unknown algorithm `$algo`; supported: " +
              VrlCipher.Variants.keys.toSeq.sorted.mkString(" ")))
        val value = if (enc) exprs.head else Cast(exprs.head, BinaryType)
        VrlCipher(value, exprs(2), exprs(3), s"$transform;$keyLen", enc)
      })
    }
    Seq("encodePercent" -> "encode_percent", "decodePercent" -> "decode_percent",
      "encodePunycode" -> "encode_punycode",
      "decodePunycode" -> "decode_punycode").foreach { case (method, name) =>
      add(s"graft_vrl_$name", { exprs =>
        require(exprs.size == 1, s"$name(value) takes 1 argument")
        VrlStringKernel1(exprs.head, method, StringType)
      })
    }
    add("graft_vrl_format_int", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "format_int(value[, base]) takes 1-2 arguments")
      val base = exprs.lift(1).map {
        case Literal(b: Int, IntegerType) => b
        case Literal(b: Long, LongType) => b.toInt
        case _ => throw new IllegalArgumentException(
          "format_int: the base argument must be an integer literal")
      }.getOrElse(10)
      require(base >= 2 && base <= 36,
        s"format_int: base must be 2-36, got $base")
      VrlFormatInt(Cast(exprs.head, LongType), base)
    })
    add("graft_vrl_parse_aws_alb_log", { exprs =>
      require(exprs.size == 1, "parse_aws_alb_log(value) takes 1 argument")
      VrlParseAlbLog(exprs.head)
    })
    add("graft_vrl_parse_aws_vpc_flow_log", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "parse_aws_vpc_flow_log(value[, format]) takes 1-2 arguments")
      val format = exprs.lift(1)
        .map(literalString(_, "parse_aws_vpc_flow_log: the format argument"))
        .getOrElse(VrlParseVpcFlow.DefaultFormat)
      VrlParseVpcFlow(exprs.head, format)
    })
    add("graft_vrl_redact", { exprs =>
      require(exprs.size == 2, "redact(value, filters: [...]) takes 2 arguments")
      // filters resolve at BUILD: each array element is a regex string
      // literal or a named filter; the result is a codegen
      // RegExpReplace chain, nothing interpreted per row
      val patterns = exprs(1) match {
        case CreateArray(children, _) => children.map {
          case Literal(s: UTF8String, StringType) =>
            VrlRedact.Named.getOrElse(s.toString, s.toString)
          case _ => throw new IllegalArgumentException(
            "redact: each filter must be a (raw) string literal or a " +
              s"named filter (${VrlRedact.Named.keys.mkString(", ")})")
        }
        case _ => throw new IllegalArgumentException(
          "redact: the filters argument must be an array literal")
      }
      require(patterns.nonEmpty, "redact: the filters array is empty")
      patterns.foldLeft(exprs.head) { (acc, p) =>
        RegExpReplace(acc, Literal(p), Literal("[REDACTED]"))
      }
    })
    add("graft_vrl_parse_glog", { exprs =>
      require(exprs.size == 1, "parse_glog(value) takes 1 argument")
      VrlLib.parseGlogStruct(exprs.head)
    })
    add("graft_vrl_parse_xml", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "parse_xml(value[, options]) takes 1-2 arguments")
      // schemaless XML rides the same VARIANT path as parse_json: the
      // kernel converts XML to the equivalent JSON text (VRL's
      // element/attribute/text conversion) and Spark's own codegen'd
      // ParseJson builds the variant. The optional second argument is
      // the compiler-packed canonical option literal (the label-aware
      // rewrite in Processors — named-option subsets misbind under
      // positional stripping).
      val opts = exprs.lift(1)
        .map(e => VrlXmlToJson.parseOpts(
          literalString(e, "parse_xml: the options argument")))
        .getOrElse(VrlXmlToJson.Opts())
      new org.apache.spark.sql.catalyst.expressions.variant.ParseJson(
        VrlXmlToJson(exprs.head, opts), true)
    })
    // random_* — nondeterministic like VRL's, composed on Spark's own
    // Rand (a fresh seed per call site, fixed at analysis like rand())
    def freshRand() = new Rand(Literal(scala.util.Random.nextLong()), true)
    add("graft_vrl_random_bool", { exprs =>
      require(exprs.isEmpty, "random_bool() takes no arguments")
      LessThan(freshRand(), Literal(0.5))
    })
    add("graft_vrl_random_int", { exprs =>
      require(exprs.size == 2, "random_int(min, max) takes 2 arguments")
      // [min, max) like VRL
      val min = Cast(exprs.head, LongType)
      val span = Cast(Subtract(Cast(exprs(1), LongType), min), DoubleType)
      Add(Cast(Floor(Multiply(freshRand(), span)), LongType), min)
    })
    add("graft_vrl_random_float", { exprs =>
      require(exprs.size == 2, "random_float(min, max) takes 2 arguments")
      val min = Cast(exprs.head, DoubleType)
      Add(Multiply(freshRand(), Subtract(Cast(exprs(1), DoubleType), min)), min)
    })
    add("graft_vrl_assert", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "assert(condition[, message]) takes 1-2 arguments")
      VrlAssert(exprs.head,
        exprs.lift(1).getOrElse(Literal("assertion failed")))
    })
    add("graft_vrl_assert_eq", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "assert_eq(left, right[, message]) takes 2-3 arguments")
      VrlAssert(EqualNullSafe(exprs.head, exprs(1)),
        exprs.lift(2).getOrElse(Literal("assertion failed: values differ")))
    })
    add("graft_vrl_get_env_var", { exprs =>
      require(exprs.size == 1, "get_env_var(name) takes 1 argument")
      VrlEnvVar(exprs.head)
    })
    add("graft_vrl_get_hostname", { exprs =>
      require(exprs.isEmpty, "get_hostname() takes no arguments")
      VrlHostname()
    })
    add("graft_vrl_tally", { exprs =>
      require(exprs.size == 1, "tally(array) takes 1 argument")
      VrlTally(exprs.head)
    })
    add("graft_vrl_tally_value", { exprs =>
      require(exprs.size == 2, "tally_value(array, value) takes 2 arguments")
      VrlTallyValue(exprs.head, exprs(1))
    })
    add("graft_vrl_contains_all", { exprs =>
      require(exprs.size == 2,
        "contains_all(value, substrings) takes 2 arguments")
      VrlContainsAll(exprs.head, exprs(1))
    })
    add("graft_vrl_find", { exprs =>
      require(exprs.size == 2, "find(value, substring) takes 2 arguments")
      // 0-based index, -1 when absent (instr is 1-based, 0 when absent).
      // Divergence, stated: the index counts CHARACTERS (VRL counts
      // bytes) — identical for ASCII, off by the multi-byte surplus
      // otherwise; and the pattern is a plain substring (VRL also
      // accepts a regex literal).
      Subtract(StringInstr(exprs.head, exprs(1)), Literal(1))
    })
    add("graft_vrl_parse_ruby_hash", { exprs =>
      require(exprs.size == 1, "parse_ruby_hash(value) takes 1 argument")
      // schemaless like parse_json/parse_xml → the VARIANT path
      new org.apache.spark.sql.catalyst.expressions.variant.ParseJson(
        VrlRubyHashToJson(exprs.head), true)
    })
    add("graft_vrl_parse_aws_cloudwatch", { exprs =>
      require(exprs.size == 1,
        "parse_aws_cloudwatch_log_subscription_message(value) takes 1 argument")
      VrlLib.parseCloudwatchStruct(exprs.head)
    })
    add("graft_vrl_parse_bytes", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "parse_bytes(value, unit[, base]) takes 2-3 arguments")
      val unit = literalString(exprs(1), "parse_bytes: the unit argument")
      val base = exprs.lift(2)
        .map(literalString(_, "parse_bytes: the base argument"))
        .getOrElse("10")
      require(base == "2" || base == "10",
        s"parse_bytes: base must be '2' or '10', got '$base'")
      VrlParseBytes(exprs.head, unit, base)
    })
    add("graft_vrl_parse_float", { exprs =>
      require(exprs.size == 1, "parse_float(value) takes 1 argument")
      // fallible like VRL's: the ANSI cast throws on garbage, which
      // `??` / `, err =` catch
      Cast(exprs.head, DoubleType)
    })
    add("graft_vrl_format_number", { exprs =>
      require(exprs.size >= 2 && exprs.size <= 4,
        "format_number(value, scale[, decimal_separator[, grouping_separator]]) " +
          "takes 2-4 arguments")
      val scale = exprs(1) match {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case _ => throw new IllegalArgumentException(
          "format_number: scale must be an integer literal")
      }
      VrlFormatNumber(Cast(exprs.head, DoubleType), scale,
        exprs.lift(2).map(literalString(_, "format_number: decimal_separator"))
          .getOrElse("."),
        exprs.lift(3).map(literalString(_, "format_number: grouping_separator"))
          .getOrElse(","))
    })
    add("graft_vrl_parse_regex_all", { exprs =>
      require(exprs.size == 2,
        "parse_regex_all(value, pattern) takes 2 arguments")
      val pat = literalString(exprs(1), "parse_regex_all: the pattern argument")
      val javaPat = pat.replace("(?P<", "(?<")
      val groups = namedGroups(javaPat)
      require(groups.nonEmpty,
        s"parse_regex_all: pattern has no named capture groups: `$pat`")
      VrlParseRegexAll(exprs.head, javaPat, groups.map(_._1))
    })
    add("graft_vrl_community_id", { exprs =>
      // VRL parameter order: source_ip, destination_ip, protocol,
      // source_port, destination_port, seed
      require(exprs.size == 5 || exprs.size == 6,
        "community_id(source_ip, destination_ip, protocol, source_port, " +
          "destination_port[, seed]) takes 5-6 arguments")
      val ints = Seq(exprs(3), exprs(4), exprs(2)).map(Cast(_, IntegerType)) ++
        exprs.lift(5).map(Cast(_, IntegerType)).toSeq
      VrlCommunityId(Seq(exprs(0), exprs(1)) ++ ints)
    })
    add("graft_vrl_ip_pton", { exprs =>
      require(exprs.size == 1, "ip_pton(value) takes 1 argument")
      VrlIpKernel1(exprs.head, "pton")
    })
    add("graft_vrl_ip_ntop", { exprs =>
      require(exprs.size == 1, "ip_ntop(value) takes 1 argument")
      VrlIpKernel1(Cast(exprs.head, BinaryType), "ntop")
    })
    add("graft_vrl_ip_to_ipv6", { exprs =>
      require(exprs.size == 1, "ip_to_ipv6(value) takes 1 argument")
      VrlIpKernel1(exprs.head, "to_v6")
    })
    add("graft_vrl_ip_subnet", { exprs =>
      require(exprs.size == 2, "ip_subnet(value, mask) takes 2 arguments")
      VrlIpSubnet(exprs.head, exprs(1))
    })
    add("graft_vrl_decode_mime_q", { exprs =>
      require(exprs.size == 1, "decode_mime_q(value) takes 1 argument")
      VrlDecodeMimeQ(exprs.head)
    })
    add("graft_vrl_uuid_v7", { exprs =>
      require(exprs.isEmpty, "uuid_v7() takes no arguments")
      VrlUuidV7()
    })
    add("graft_vrl_parse_etld", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "parse_etld(value[, plus_parts]) takes 1-2 arguments")
      val plus = exprs.lift(1).map {
        case Literal(i: Int, IntegerType) => i
        case Literal(l: Long, LongType) => l.toInt
        case _ => throw new IllegalArgumentException(
          "parse_etld: plus_parts must be an integer literal")
      }.getOrElse(0)
      require(plus >= 0, "parse_etld: plus_parts must be >= 0")
      VrlParseEtld(exprs.head, plus)
    })
    add("graft_vrl_parse_tokens", { exprs =>
      require(exprs.size == 1, "parse_tokens(value) takes 1 argument")
      VrlParseTokens(exprs.head)
    })
    add("graft_vrl_sieve", { exprs =>
      require(exprs.size == 2, "sieve(value, permitted) takes 2 arguments")
      val pat = literalString(exprs(1), "sieve: the permitted argument")
      try java.util.regex.Pattern.compile(pat)
      catch { case e: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(
          s"sieve: bad permitted pattern `$pat`: ${e.getMessage}") }
      VrlSieve(exprs.head, pat)
    })
    add("graft_vrl_merge", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "merge(to, from[, deep: true]) takes 2-3 arguments")
      val deep = exprs.lift(2).map {
        case Literal(b: Boolean, BooleanType) => b
        case _ => throw new IllegalArgumentException(
          "merge: the deep argument must be a boolean literal")
      }.getOrElse(false)
      VrlMerge(exprs.head, exprs(1), deep)
    })
    add("graft_vrl_sha2", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "sha2(value[, variant]) takes 1-2 arguments")
      // VRL's DEFAULT variant is SHA-512/224 — which Spark's own
      // sha2(expr, bits) cannot express, hence the kernel
      val variant = exprs.lift(1)
        .map(literalString(_, "sha2: the variant argument"))
        .getOrElse("SHA-512/224")
      val algo = VrlDigest.Variants.getOrElse(variant,
        throw new IllegalArgumentException(
          s"sha2: unknown variant `$variant`; supported: " +
            VrlDigest.Variants.keys.toSeq.sorted.mkString(" ")))
      VrlDigest(exprs.head, algo)
    })
    add("graft_vrl_hmac", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "hmac(value, key[, algorithm]) takes 2-3 arguments")
      val name = exprs.lift(2)
        .map(literalString(_, "hmac: the algorithm argument"))
        .getOrElse("SHA-256")
      val algo = VrlHmac.Variants.getOrElse(name,
        throw new IllegalArgumentException(
          s"hmac: unknown algorithm `$name`; supported: " +
            VrlHmac.Variants.keys.toSeq.sorted.mkString(" ")))
      VrlHmac(exprs.head, exprs(1), algo)
    })
    add("graft_vrl_encode_base16", { exprs =>
      require(exprs.size == 1, "encode_base16(value) takes 1 argument")
      // VRL base16 is lowercase; Spark's hex uppercases
      Lower(Hex(Cast(exprs.head, BinaryType)))
    })
    add("graft_vrl_decode_base16", { exprs =>
      require(exprs.size == 1, "decode_base16(value) takes 1 argument")
      Cast(Unhex(exprs.head), StringType)
    })
    add("graft_vrl_encode_kv", { exprs =>
      require(exprs.size >= 1 && exprs.size <= 3,
        "encode_key_value(object[, key_value_delimiter[, field_delimiter]]) " +
          "takes 1-3 arguments")
      VrlEncodeKeyValue(exprs.head,
        exprs.lift(1).getOrElse(Literal("=")),
        exprs.lift(2).getOrElse(Literal(" ")))
    })
    Seq("gzip", "zlib", "zstd", "snappy").foreach { algo =>
      add(s"graft_vrl_encode_$algo", { exprs =>
        require(exprs.size == 1, s"encode_$algo(value) takes 1 argument")
        VrlCompress(Cast(exprs.head, BinaryType), algo, encode = true)
      })
      add(s"graft_vrl_decode_$algo", { exprs =>
        require(exprs.size == 1, s"decode_$algo(value) takes 1 argument")
        // VRL strings are byte strings: the inflated payload surfaces
        // as a string like VRL's decode_* (binary → string cast is a
        // reinterpret, not a conversion)
        Cast(VrlCompress(Cast(exprs.head, BinaryType), algo,
          encode = false), StringType)
      })
    }
    add("graft_vrl_is_nullish", { exprs =>
      require(exprs.size == 1, "is_nullish(value) takes 1 argument")
      // VRL: null, "", "-", or whitespace-only count as nullish
      val e = exprs.head
      Or(IsNull(e),
        In(StringTrim(Cast(e, StringType), None),
          Seq(Literal(""), Literal("-"))))
    })

    // ---- round-13 tranche 4 (vrl 0.30 stdlib) ----
    /** literal regex patterns out of an array-literal argument — the
      * remap compiler renders `[r'…', r'…']` as `array('…','…')`, which
      * the parser hands builders as an unresolved `array` call */
    def literalPatterns(e: Expression, what: String,
        regexCheck: Boolean = true): Seq[String] = {
      val raw = e match {
        case CreateArray(cs, _) => cs
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("array") =>
          f.arguments
        case _ => throw new IllegalArgumentException(
          s"$what must be an array literal of string/regex literals")
      }
      require(raw.nonEmpty, s"$what must not be empty")
      raw.map(literalString(_, s"$what: each element")).map { p =>
        // grok patterns are validated by their own translator instead
        if (regexCheck) {
          try java.util.regex.Pattern.compile(p)
          catch { case ex: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"$what: bad pattern `$p`: ${ex.getMessage}") }
        }
        p
      }
    }
    val sha3Variants = Set("SHA3-224", "SHA3-256", "SHA3-384", "SHA3-512")
    add("graft_vrl_sha3", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "sha3(value[, variant]) takes 1-2 arguments")
      // VRL's default variant is SHA3-512; JDK algorithm names match
      // VRL's spellings exactly
      val variant = exprs.lift(1)
        .map(literalString(_, "sha3: the variant argument"))
        .getOrElse("SHA3-512")
      require(sha3Variants.contains(variant),
        s"sha3: unknown variant `$variant`; supported: " +
          sha3Variants.toSeq.sorted.mkString(" "))
      VrlDigest(exprs.head, variant)
    })
    add("graft_vrl_seahash", { exprs =>
      require(exprs.size == 1, "seahash(value) takes 1 argument")
      VrlSeaHash(Cast(exprs.head, StringType))
    })
    add("graft_vrl_chunks", { exprs =>
      require(exprs.size == 2, "chunks(value, chunk_size) takes 2 arguments")
      VrlChunks(Cast(exprs.head, StringType), Cast(exprs(1), IntegerType))
    })
    add("graft_vrl_truncate", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "truncate(value, limit[, suffix]) takes 2-3 arguments")
      // the third argument is VRL's `suffix:` string; the legacy
      // boolean `ellipsis:` spelling maps to the literal "..."
      val s = exprs.head
      val lim = Cast(exprs(1), IntegerType)
      val suffix: Expression = exprs.lift(2) match {
        case None => Literal("")
        case Some(Literal(true, BooleanType)) => Literal("...")
        case Some(Literal(false, BooleanType)) => Literal("")
        case Some(e) => e
      }
      If(GreaterThan(Length(s), lim),
        Concat(Seq(Substring(s, Literal(1), lim), suffix)), s)
    })
    add("graft_vrl_to_syslog_facility", { exprs =>
      require(exprs.size == 1, "to_syslog_facility(code) takes 1 argument")
      VrlSyslogFacilityKernel(Cast(exprs.head, LongType), toName = true)
    })
    add("graft_vrl_to_syslog_facility_code", { exprs =>
      require(exprs.size == 1, "to_syslog_facility_code(name) takes 1 argument")
      VrlSyslogFacilityKernel(Cast(exprs.head, StringType), toName = false)
    })
    add("graft_vrl_zip", { exprs =>
      // VRL zips to the SHORTER length (Spark's zip_with pads to the
      // longer with nulls — both sides are sliced first so the pad
      // branch never runs); each pair surfaces as a 2-element array,
      // VRL's shape. The 1-arg transpose form needs a heterogeneous
      // outer array and is rejected with the fix.
      require(exprs.size == 2,
        "zip(array_0, array_1) takes 2 arrays (the 1-arg transpose form " +
          "is not supported — pass the two arrays directly)")
      val a = exprs.head
      val b = exprs(1)
      val n = Least(Seq(Size(a), Size(b)))
      val x = UnresolvedNamedLambdaVariable(Seq("__zip_l"))
      val y = UnresolvedNamedLambdaVariable(Seq("__zip_r"))
      ZipWith(Slice(a, Literal(1), n), Slice(b, Literal(1), n),
        LambdaFunction(CreateArray(Seq(x, y)), Seq(x, y)))
    })
    add("graft_vrl_object_from_array", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "object_from_array(values[, keys]) takes 1-2 arguments")
      if (exprs.size == 1) VrlObjectFromPairs(exprs.head)
      else VrlObjectFromKv(exprs.head, exprs(1))
    })
    add("graft_vrl_match_any", { exprs =>
      require(exprs.size == 2, "match_any(value, patterns) takes 2 arguments")
      VrlMatchAny(Cast(exprs.head, StringType),
        literalPatterns(exprs(1), "match_any: the patterns argument"))
    })
    add("graft_vrl_match_array", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "match_array(array, pattern[, all]) takes 2-3 arguments")
      val pat = literalString(exprs(1), "match_array: the pattern argument")
      try java.util.regex.Pattern.compile(pat)
      catch { case ex: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(
          s"match_array: bad pattern `$pat`: ${ex.getMessage}") }
      val all = exprs.lift(2) match {
        case None => false
        case Some(Literal(b: Boolean, BooleanType)) => b
        case _ => throw new IllegalArgumentException(
          "match_array: the all argument must be a boolean literal")
      }
      val x = UnresolvedNamedLambdaVariable(Seq("__ma_e"))
      // RLike is a full-string-anywhere test (Java find semantics via
      // unanchored rlike), matching VRL's regex `match`
      val lam = LambdaFunction(RLike(x, Literal(pat)), Seq(x))
      if (all) ArrayForAll(exprs.head, lam) else ArrayExists(exprs.head, lam)
    })
    add("graft_vrl_is_empty", { exprs =>
      require(exprs.size == 1, "is_empty(value) takes 1 argument")
      VrlIsEmpty(exprs.head)
    })
    add("graft_vrl_log", { exprs =>
      require(exprs.size >= 1 && exprs.size <= 3,
        "log(value[, level[, rate_limit_secs]]) takes 1-3 arguments")
      val level = exprs.lift(1)
        .map(literalString(_, "log: the level argument"))
        .getOrElse("info")
      require(Set("trace", "debug", "info", "warn", "error").contains(level),
        s"log: unknown level `$level` (trace debug info warn error)")
      val rate = exprs.lift(2) match {
        case None => 1
        case Some(Literal(i: Int, IntegerType)) => i
        case Some(Literal(l: Long, LongType)) => l.toInt
        case _ => throw new IllegalArgumentException(
          "log: rate_limit_secs must be an integer literal")
      }
      VrlLog(exprs.head, level, rate)
    })
    add("graft_vrl_decode_charset", { exprs =>
      require(exprs.size == 2,
        "decode_charset(value, from_charset) takes 2 arguments")
      val cs = literalString(exprs(1), "decode_charset: the charset argument")
      try java.nio.charset.Charset.forName(cs)
      catch { case _: Exception => throw new IllegalArgumentException(
        s"decode_charset: unknown charset `$cs`") }
      VrlCharset(Cast(exprs.head, BinaryType), cs, encode = false)
    })
    add("graft_vrl_encode_charset", { exprs =>
      require(exprs.size == 2,
        "encode_charset(value, to_charset) takes 2 arguments")
      val cs = literalString(exprs(1), "encode_charset: the charset argument")
      try java.nio.charset.Charset.forName(cs)
      catch { case _: Exception => throw new IllegalArgumentException(
        s"encode_charset: unknown charset `$cs`") }
      VrlCharset(Cast(exprs.head, StringType), cs, encode = true)
    })
    add("graft_vrl_parse_influxdb", { exprs =>
      require(exprs.size == 1,
        "parse_influxdb_line_protocol(value) takes 1 argument")
      // mixed-type field objects → the VARIANT path like parse_json
      new org.apache.spark.sql.catalyst.expressions.variant.ParseJson(
        VrlInfluxToJson(Cast(exprs.head, StringType)), true)
    })
    add("graft_vrl_parse_cbor", { exprs =>
      require(exprs.size == 1, "parse_cbor(value) takes 1 argument")
      new org.apache.spark.sql.catalyst.expressions.variant.ParseJson(
        VrlCborToJson(Cast(exprs.head, BinaryType)), true)
    })
    add("graft_vrl_parse_groks", { exprs =>
      require(exprs.size == 2,
        "parse_groks(value, patterns) takes 2 arguments (the aliases " +
          "option is not supported — inline the subpattern instead)")
      VrlLib.parseGroksStruct(exprs.head,
        literalPatterns(exprs(1), "parse_groks: the patterns argument",
          regexCheck = false))
    })
    /** parse_proto/encode_proto message schema: a `.proto` SOURCE file
      * compiles through the built-in proto3 source parser (the
      * schema-registry route); anything else is read as a compiled
      * FileDescriptorSet (`.desc` — VRL's own contract, protoc output).
      * Resolved once at ANALYSIS on the driver, like VRL's compile-time
      * descriptor load. */
    def protoFileFields(pathE: Expression, msgE: Expression,
        what: String): Seq[graft.streaming.ProtoField] = {
      val path = literalString(pathE, s"$what: the descriptor path argument")
      val msg = literalString(msgE, s"$what: the message type argument")
      val p = java.nio.file.Paths.get(path)
      require(java.nio.file.Files.exists(p), s"$what: file `$path` not found")
      if (path.endsWith(".proto")) {
        val src = java.nio.file.Files.readString(p)
        // the source parser names messages without the package prefix;
        // a package-qualified message_type (VRL's spelling against a
        // compiled descriptor) retries with successively more leading
        // segments stripped, so a multi-segment package
        // (`com.example.M`) still resolves
        def attempt(name: String): Option[Seq[graft.streaming.ProtoField]] =
          try Some(graft.streaming.SchemaRegistry.ProtoSource.fieldsFor(
            src, Some(name)))
          catch { case _: IllegalArgumentException => None }
        val candidates = Iterator.iterate(msg)(m =>
          m.substring(m.indexOf('.') + 1))
          .takeWhile(_.nonEmpty).take(msg.count(_ == '.') + 1).toSeq
        candidates.flatMap(attempt(_)).headOption.getOrElse(
          // re-raise the ORIGINAL spelling's error for the message
          graft.streaming.SchemaRegistry.ProtoSource.fieldsFor(src, Some(msg)))
      } else {
        val all = graft.streaming.ProtoDescriptor.parse(
          java.nio.file.Files.readAllBytes(p))
        all.getOrElse(msg, throw new IllegalArgumentException(
          s"$what: message `$msg` not in descriptor (it has: " +
            s"${all.keys.toSeq.sorted.mkString(", ")})"))
      }
    }
    /** starts_with/ends_with/contains with VRL's `case_sensitive:`
      * option (default true) — the insensitive form lowercases both
      * sides, staying codegen. */
    def caseForm(exprs: Seq[Expression], name: String,
        build: (Expression, Expression) => Expression): Expression = {
      require(exprs.size == 2 || exprs.size == 3,
        s"$name(value, substring[, case_sensitive]) takes 2-3 arguments")
      val cs = exprs.lift(2) match {
        case None => true
        case Some(Literal(b: Boolean, BooleanType)) => b
        case _ => throw new IllegalArgumentException(
          s"$name: case_sensitive must be a boolean literal")
      }
      if (cs) build(exprs.head, exprs(1))
      else build(Lower(exprs.head), Lower(exprs(1)))
    }
    add("graft_vrl_starts_with", { exprs =>
      caseForm(exprs, "starts_with", StartsWith(_, _))
    })
    add("graft_vrl_ends_with", { exprs =>
      caseForm(exprs, "ends_with", EndsWith(_, _))
    })
    add("graft_vrl_contains", { exprs =>
      caseForm(exprs, "contains", Contains(_, _))
    })
    add("graft_vrl_join", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "join(value[, separator]) takes 1-2 arguments")
      // VRL's separator defaults to "" — Spark's array_join requires it
      ArrayJoin(exprs.head, exprs.lift(1).getOrElse(Literal("")), None)
    })
    add("graft_vrl_to_unix_timestamp", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "to_unix_timestamp(value[, unit]) takes 1-2 arguments")
      // VRL's second argument is a UNIT (seconds/milliseconds/
      // nanoseconds) — NOT Spark unix_timestamp's format string; the
      // bare alias used to misroute `unit: 'milliseconds'` into a
      // pattern parse
      val ts = Cast(exprs.head, TimestampType)
      exprs.lift(1).map(literalString(_, "to_unix_timestamp: the unit argument"))
        .getOrElse("seconds") match {
        case "seconds" => UnixSeconds(ts)
        case "milliseconds" => UnixMillis(ts)
        case "nanoseconds" => Multiply(UnixMicros(ts), Literal(1000L))
        case other => throw new IllegalArgumentException(
          s"to_unix_timestamp: unknown unit `$other` " +
            "(seconds milliseconds nanoseconds)")
      }
    })
    add("graft_vrl_ipv6_to_ipv4", { exprs =>
      require(exprs.size == 1, "ipv6_to_ipv4(value) takes 1 argument")
      VrlIpKernel1(exprs.head, "to_v4")
    })
    add("graft_vrl_random_bytes", { exprs =>
      require(exprs.size == 1, "random_bytes(length) takes 1 argument")
      VrlRandomBytes(Cast(exprs.head, IntegerType))
    })
    add("graft_vrl_get_timezone", { exprs =>
      require(exprs.isEmpty, "get_timezone() takes no arguments")
      // the engine's configured zone — resolved once at analysis, the
      // session-wide contract the vrl processor's timezone: option
      // also enforces
      Literal(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    })
    add("graft_vrl_is_json", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "is_json(value[, variant]) takes 1-2 arguments")
      // validity via Spark's own try-parse (null on malformed); the
      // variant option narrows by the first significant character,
      // which JSON's grammar makes unambiguous
      val valid = IsNotNull(
        new org.apache.spark.sql.catalyst.expressions.variant.ParseJson(
          exprs.head, false))
      exprs.lift(1) match {
        case None => valid
        case Some(e) =>
          val variant = literalString(e, "is_json: the variant argument")
          val prefix = variant match {
            case "object" => "\\{"
            case "array" => "\\["
            case "string" => "\""
            case "number" => "[-0-9]"
            case "bool" => "[tf]"
            case "null" => "n"
            case other => throw new IllegalArgumentException(
              s"is_json: unknown variant `$other` " +
                "(object array string number bool null)")
          }
          And(valid, RLike(exprs.head, Literal(s"^\\s*$prefix")))
      }
    })
    add("graft_vrl_compact", { exprs =>
      require(exprs.size == 1,
        "compact(value) takes 1 argument (the recursive/per-kind " +
          "options are not supported)")
      VrlCompact(exprs.head)
    })
    add("graft_vrl_format_timestamp", { exprs =>
      require(exprs.size == 2 || exprs.size == 3,
        "format_timestamp(value, format[, timezone]) takes 2-3 arguments")
      // dual dialect: a `%` format is VRL's strftime (translated by
      // the parse_timestamp machinery — the same specifier table works
      // for rendering); anything else passes through as a Java pattern
      // (this engine's long-shipped spelling)
      val fmt = literalString(exprs(1), "format_timestamp: the format argument")
      val javaFmt = if (fmt.contains('%')) VrlStrptime.translate(fmt) else fmt
      val tz = exprs.lift(2).map { e =>
        val z = literalString(e, "format_timestamp: the timezone argument")
        try java.time.ZoneId.of(z)
        catch { case _: Exception => throw new IllegalArgumentException(
          s"format_timestamp: unknown timezone `$z`") }
        z
      }
      DateFormatClass(Cast(exprs.head, TimestampType), Literal(javaFmt),
        tz.orElse(Some(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)))
    })
    add("graft_vrl_flatten", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "flatten(value[, separator]) takes 1-2 arguments")
      val sep = exprs.lift(1)
        .map(literalString(_, "flatten: the separator argument"))
        .getOrElse(".")
      VrlFlatten(exprs.head, sep)
    })
    add("graft_vrl_unflatten", { exprs =>
      require(exprs.size == 1 || exprs.size == 2,
        "unflatten(value[, separator]) takes 1-2 arguments")
      val sep = exprs.lift(1)
        .map(literalString(_, "unflatten: the separator argument"))
        .getOrElse(".")
      VrlUnflatten(exprs.head, sep)
    })
    add("graft_vrl_parse_proto", { exprs =>
      require(exprs.size == 3,
        "parse_proto(value, desc_file, message_type) takes 3 arguments")
      graft.streaming.ProtoDecode(Cast(exprs.head, BinaryType),
        protoFileFields(exprs(1), exprs(2), "parse_proto"))
    })
    add("graft_vrl_encode_proto", { exprs =>
      require(exprs.size == 3,
        "encode_proto(value, desc_file, message_type) takes 3 arguments")
      val fields = protoFileFields(exprs(1), exprs(2), "encode_proto")
      // the wire encoder reads its struct POSITIONALLY in declared
      // field order — reshape the caller's object by NAME (a missing
      // field fails analysis naming it) and cast to the wire types
      val shaped = CreateNamedStruct(fields.flatMap(f => Seq(Literal(f.name),
        Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          exprs.head, Literal(f.name)), f.sparkType))))
      graft.streaming.ProtoEncode(shaped, fields)
    })
    b.result()
  }

  private[functions] val Ipv4Pattern =
    "^((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])$"
  // full, compressed (::) and IPv4-mapped forms; zone index allowed
  private[functions] val Ipv6Pattern =
    "^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}|" +
      "([0-9A-Fa-f]{1,4}:){1,7}:|" +
      "([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}|" +
      "([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}|" +
      "([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}|" +
      "([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}|" +
      "([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}|" +
      "[0-9A-Fa-f]{1,4}:((:[0-9A-Fa-f]{1,4}){1,6})|" +
      ":((:[0-9A-Fa-f]{1,4}){1,7}|:)|" +
      "::([fF]{4}:)?((25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}" +
      "(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9]))(%\\w+)?$"


  /** VRL `parse_aws_cloudwatch_log_subscription_message(value)` — the
    * CloudWatch Logs → Kinesis/Firehose envelope, composed on Spark's
    * own codegen'd JSON parse: from_json with the envelope's fixed
    * schema (FAILFAST — malformed input errors like VRL's fallible
    * form), camelCase keys re-shaped to VRL's snake_case fields, and
    * each log event's epoch-millis stamp converted to a real timestamp
    * inside a resolved `transform` lambda. */
  private[functions] def parseCloudwatchStruct(v: Expression): Expression = {
    val eventType = StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", LongType),
      StructField("message", StringType)))
    val raw = StructType(Seq(
      StructField("messageType", StringType),
      StructField("owner", StringType),
      StructField("logGroup", StringType),
      StructField("logStream", StringType),
      StructField("subscriptionFilters", ArrayType(StringType)),
      StructField("logEvents", ArrayType(eventType))))
    val parsed = JsonToStructs(raw, Map("mode" -> "FAILFAST"), v)
    def f(i: Int, name: String) = GetStructField(parsed, i, Some(name))
    val le = NamedLambdaVariable("le", eventType, nullable = true)
    val eventBody = CreateNamedStruct(Seq(
      Literal("id"), GetStructField(le, 0, Some("id")),
      Literal("timestamp"), MillisToTimestamp(GetStructField(le, 1, Some("timestamp"))),
      Literal("message"), GetStructField(le, 2, Some("message"))))
    CreateNamedStruct(Seq(
      Literal("owner"), f(1, "owner"),
      Literal("message_type"), f(0, "messageType"),
      Literal("log_group"), f(2, "logGroup"),
      Literal("log_stream"), f(3, "logStream"),
      Literal("subscription_filters"), f(4, "subscriptionFilters"),
      Literal("log_events"),
      ArrayTransform(f(5, "logEvents"), LambdaFunction(eventBody, Seq(le)))))
  }

  /** Guarded dotted-quad → 32-bit value as LongType: null unless the
    * string is a valid IPv4 address (the anchored pattern rejects
    * out-of-range octets, so the per-octet casts never see bad input) —
    * VRL `ip_aton`. */
  private[functions] def ipv4ToLong(ip: Expression): Expression = {
    val checked = If(RLike(ip, Literal(Ipv4Pattern)), ip,
      Literal.create(null, StringType))
    val parts = StringSplit(checked, Literal("\\."), Literal(-1))
    Seq(16777216L, 65536L, 256L, 1L).zipWithIndex.map { case (scale, i) =>
      Multiply(Cast(GetArrayItem(parts, Literal(i)), LongType), Literal(scale))
    }.reduce[Expression](Add(_, _))
  }

  /** VRL `ip_ntoa(int)` — 32-bit numeric → dotted quad; out-of-range
    * values yield null (VRL errors; the `, err =` caveat as elsewhere). */
  private[functions] def longToIpv4(n: Expression): Expression = {
    val nL = Cast(n, LongType)
    def octet(shift: Int): Expression =
      Cast(BitwiseAnd(ShiftRightUnsigned(nL, Literal(shift)), Literal(255L)),
        StringType)
    If(And(GreaterThanOrEqual(nL, Literal(0L)),
        LessThanOrEqual(nL, Literal(0xFFFFFFFFL))),
      ConcatWs(Seq(Literal("."), octet(24), octet(16), octet(8), octet(0))),
      Literal.create(null, StringType))
  }

  // VRL to_syslog_severity's accepted keyword spellings (vrl stdlib) —
  // RFC 5424 names plus the common aliases.
  private val SeverityAliases: Seq[(String, Int)] = Seq(
    "emerg" -> 0, "panic" -> 0, "alert" -> 1, "crit" -> 2, "critical" -> 2,
    "err" -> 3, "error" -> 3, "warning" -> 4, "warn" -> 4, "notice" -> 5,
    "info" -> 6, "informational" -> 6, "debug" -> 7)

  /** VRL `to_syslog_severity(name)` → RFC 5424 number; unknown → null. */
  private[functions] def toSyslogSeverity(v: Expression): Expression = {
    val lv = Lower(v)
    CaseWhen(SeverityAliases.map { case (n, i) =>
      (EqualTo(lv, Literal(n)), Literal(i)): (Expression, Expression)
    }, Literal.create(null, IntegerType))
  }

  /** VRL `to_syslog_level(int)` → RFC 5424 keyword; out-of-range → null
    * (the guarded lookup never ANSI-throws). */
  private[functions] def toSyslogLevel(n: Expression): Expression = {
    val nI = Cast(n, IntegerType)
    If(And(GreaterThanOrEqual(nI, Literal(0)), LessThanOrEqual(nI, Literal(7))),
      GetArrayItem(CreateArray(SeverityNames.map(Literal(_))), nI),
      Literal.create(null, StringType))
  }

  /** VRL `parse_user_agent(value)` (fast mode) → `struct<browser:
    * struct<family, version>, device: struct<category>, os:
    * struct<family, version>>` — the family/version heuristics real UA
    * strings resolve with, composed from codegen'd RLike/regexp_extract
    * (no UA database; VRL's fast mode is regex-heuristic too). Unknown
    * agents yield null families, category falls back to 'desktop'. */
  private[functions] def parseUserAgentStruct(v: Expression): Expression = {
    val nullStr = Literal.create(null, StringType)
    def ext(pat: String): Expression = {
      val e = RegExpExtract(v, Literal(pat), Literal(1))
      If(EqualTo(e, Literal("")), nullStr, e)
    }
    def has(pat: String): Expression = RLike(v, Literal(pat))
    def fam(family: Expression, version: Expression): Expression =
      CreateNamedStruct(Seq(Literal("family"), family,
        Literal("version"), version))
    // browser: specificity order — Edge/Opera carry Chrome/Safari tokens,
    // Chrome carries Safari, so the more specific family tests first
    val browser = CaseWhen(Seq(
      (has("(?i)bot|crawler|spider|slurp|curl/|wget/"),
        fam(Literal("Bot"), nullStr)),
      (has("Edg(e|A|iOS)?/"),
        fam(Literal("Edge"), ext("Edg(?:e|A|iOS)?/([0-9][0-9.]*)"))),
      (has("OPR/|Opera"),
        fam(Literal("Opera"), Coalesce(Seq(ext("OPR/([0-9][0-9.]*)"),
          ext("Opera[/ ]([0-9][0-9.]*)"))))),
      (has("Chrome/"), fam(Literal("Chrome"), ext("Chrome/([0-9][0-9.]*)"))),
      (has("Firefox/"), fam(Literal("Firefox"), ext("Firefox/([0-9][0-9.]*)"))),
      (has("Safari/"), fam(Literal("Safari"), ext("Version/([0-9][0-9.]*)"))),
      (has("MSIE |Trident/"),
        fam(Literal("IE"), Coalesce(Seq(ext("MSIE ([0-9][0-9.]*)"),
          ext("Trident/.*rv:([0-9][0-9.]*)")))))),
      fam(nullStr, nullStr))
    // os: iOS before Mac (iDevice UAs say "like Mac OS X"), Android
    // before Linux (Android UAs contain "Linux")
    val os = CaseWhen(Seq(
      (has("Windows NT"),
        fam(Literal("Windows"), ext("Windows NT ([0-9.]+)"))),
      (has("iPhone OS|CPU OS"),
        fam(Literal("iOS"), RegExpReplace(
          ext("(?:iPhone OS|CPU OS) ([0-9_]+)"), Literal("_"), Literal(".")))),
      (has("Android"), fam(Literal("Android"), ext("Android ([0-9.]+)"))),
      (has("Mac OS X"),
        fam(Literal("Mac OS X"), RegExpReplace(
          ext("Mac OS X ([0-9_.]+)"), Literal("_"), Literal(".")))),
      (has("Linux"), fam(Literal("Linux"), nullStr))),
      fam(nullStr, nullStr))
    val category = CaseWhen(Seq(
      (has("(?i)bot|crawler|spider|slurp|curl/|wget/"), Literal("bot")),
      (has("Mobi|iPhone|iPad|Android"), Literal("mobile"))),
      Literal("desktop"))
    CreateNamedStruct(Seq(
      Literal("browser"), browser,
      Literal("device"), CreateNamedStruct(Seq(Literal("category"), category)),
      Literal("os"), os))
  }

  // Compound duration: ordered optional unit segments, largest first —
  // "1h30m", "1005ms", "1.5s", "2d 4h". `m(?!s)` keeps minutes from
  // eating the ms segment's prefix.
  private val DurationPattern = {
    val num = "([0-9]*\\.?[0-9]+)"
    "^\\s*" +
      s"(?:$num\\s*w\\s*)?" +
      s"(?:$num\\s*d\\s*)?" +
      s"(?:$num\\s*h\\s*)?" +
      s"(?:$num\\s*m(?!s)\\s*)?" +
      s"(?:$num\\s*s\\s*)?" +
      s"(?:$num\\s*ms\\s*)?" +
      s"(?:$num\\s*(?:us|µs)\\s*)?" +
      s"(?:$num\\s*ns\\s*)?\\s*$$"
  }
  // per-group scale in NANOSECONDS (exact doubles for integer inputs,
  // like VRL's internal ns representation)
  private val DurationScalesNs =
    Seq(6.048e14, 8.64e13, 3.6e12, 6e10, 1e9, 1e6, 1e3, 1d)
  private val DurationUnitNs: Seq[(String, Double)] = Seq(
    "w" -> 6.048e14, "d" -> 8.64e13, "h" -> 3.6e12, "m" -> 6e10,
    "s" -> 1e9, "ms" -> 1e6, "us" -> 1e3, "µs" -> 1e3, "ns" -> 1d)

  /** VRL `parse_duration(value, unit)` → DOUBLE in the target unit:
    * compound segments sum in nanoseconds, then convert. Unmatched or
    * digit-free input → null; an unknown unit → null (VRL errors; the
    * `, err =` caveat as with the parse_* shims). All casts are TRY —
    * nothing here throws under default ANSI. */
  private[functions] def parseDuration(v: Expression, unit: Expression): Expression = {
    def g(i: Int) = RegExpExtract(v, Literal(DurationPattern), Literal(i))
    val totalNs = DurationScalesNs.zipWithIndex.map { case (sc, i) =>
      Coalesce(Seq(
        Multiply(Cast(g(i + 1), DoubleType, None, EvalMode.TRY), Literal(sc)),
        Literal(0d)))
    }.reduce[Expression](Add(_, _))
    val unitNs = CaseWhen(DurationUnitNs.map { case (u, ns) =>
      (EqualTo(unit, Literal(u)), Literal(ns)): (Expression, Expression)
    }, Literal.create(null, DoubleType))
    If(And(RLike(v, Literal(DurationPattern)), RLike(v, Literal("[0-9]"))),
      Divide(totalNs, unitNs), Literal.create(null, DoubleType))
  }

  // Common Log Format: host identity user [timestamp] "request" status size
  // (the Apache access-log shape VRL's parse_common_log handles; combined
  // appends "referrer" "agent")
  private val Clf =
    "^(\\S+) (\\S+) (\\S+) \\[([^\\]]+)\\] \"([^\"]*)\" (\\d{1,3}) (-|\\d+)"
  private val ClfCombinedTail = " \"([^\"]*)\" \"([^\"]*)\"$"
  private val ClfTimestampFmt = "dd/MMM/yyyy:HH:mm:ss xx"

  /** VRL `parse_common_log(value)` (and the combined tail for
    * `parse_apache_log(value, 'combined')`): struct of the access-log
    * fields, alphabetical like the other parse_* shims. Unmatched lines
    * → null struct; a '-' size and a non-splittable request degrade to
    * null FIELDS. Nothing throws under default ANSI (TRY casts,
    * failOnError=false timestamp parse). */
  /** VRL `parse_glog(value)` / `parse_klog(value)` — the Google glog /
    * k8s klog line format `Lmmdd hh:mm:ss.uuuuuu threadid file:line] msg`.
    * Fields: level keyword (info/warning/error/fatal), timestamp (glog
    * omits the year — VRL fills the CURRENT UTC year, mirrored here via
    * year(current_date())), id, file, line, message. Non-matching input
    * → null struct, the nginx-shim convention.
    *
    * Contract: the filled year is the PLAN-EVALUATION year — Catalyst
    * constant-folds year(current_date()) once per plan, so a batch that
    * spans New Year midnight stamps every row with the year the query
    * started in, not a per-row clock. (VRL makes the same assumption
    * per-event; the divergence window is exactly that midnight batch.) */
  private[functions] def parseGlogStruct(v: Expression): Expression = {
    val pat = "^([IWEF])(\\d{2})(\\d{2}) (\\d{2}:\\d{2}:\\d{2}\\.\\d{6})\\s+" +
      "(\\d+) ([^:\\]]+):(\\d+)\\] (.*)$"
    def g(i: Int) = RegExpExtract(v, Literal(pat), Literal(i))
    val level = CaseWhen(Seq(
      (EqualTo(g(1), Literal("I")), Literal("info")),
      (EqualTo(g(1), Literal("W")), Literal("warning")),
      (EqualTo(g(1), Literal("E")), Literal("error"))),
      Some(Literal("fatal")))
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val tsText = Concat(Seq(
      Cast(Year(CurrentDate(Some(tz))), StringType), Literal("-"),
      g(2), Literal("-"), g(3), Literal(" "), g(4)))
    val ts = ParseToTimestamp(tsText,
      Some(Literal("yyyy-MM-dd HH:mm:ss.SSSSSS")), TimestampType, Some(tz), false)
    val fields: Seq[(String, Expression)] = Seq(
      "file" -> g(6),
      "id" -> Cast(g(5), IntegerType, None, EvalMode.TRY),
      "level" -> level,
      "line" -> Cast(g(7), IntegerType, None, EvalMode.TRY),
      "message" -> g(8),
      "timestamp" -> ts)
    val struct = CreateNamedStruct(fields.flatMap {
      case (n, e) => Seq(Literal(n), e) })
    If(RLike(v, Literal(pat)), struct, Literal.create(null, struct.dataType))
  }

  private[functions] def parseCommonLogStruct(v: Expression, combined: Boolean): Expression = {
    val pat = if (combined) Clf + ClfCombinedTail else Clf + "$"
    val nullStr = Literal.create(null, StringType)
    def dashNull(e: Expression): Expression =
      If(EqualTo(e, Literal("-")), nullStr, e)
    def g(i: Int) = RegExpExtract(v, Literal(pat), Literal(i))
    val req = g(5)
    val ReqPat = "^(\\S+) (\\S+) (\\S+)$"
    def rq(i: Int): Expression =
      If(RLike(req, Literal(ReqPat)),
        RegExpExtract(req, Literal(ReqPat), Literal(i)), nullStr)
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val ts = ParseToTimestamp(g(4), Some(Literal(ClfTimestampFmt)),
      TimestampType, Some(tz), false)
    val base: Seq[(String, Expression)] = Seq(
      "host" -> g(1),
      "identity" -> dashNull(g(2)),
      "message" -> req,
      "method" -> rq(1),
      "path" -> rq(2),
      "protocol" -> rq(3),
      "size" -> If(EqualTo(g(7), Literal("-")),
        Literal.create(null, LongType),
        Cast(g(7), LongType, None, EvalMode.TRY)),
      "status" -> Cast(g(6), IntegerType),
      "timestamp" -> ts,
      "user" -> dashNull(g(3)))
    val fields = if (combined)
      base ++ Seq[(String, Expression)](
        "referrer" -> dashNull(g(8)), "agent" -> dashNull(g(9)))
    else base
    val struct = CreateNamedStruct(fields.sortBy(_._1).flatMap {
      case (n, e) => Seq(Literal(n), e) })
    If(RLike(v, Literal(pat)), struct, Literal.create(null, struct.dataType))
  }

  // Apache error log: [ts] [module:level] [pid N:tid M] [client ip:port] msg
  private val ApacheErrorPat =
    "^\\[([^\\]]+)\\] \\[(?:([a-z_0-9]+):)?([a-z]+)\\]" +
      "(?: \\[pid (\\d+)(?::tid (\\d+))?\\])?" +
      "(?: \\[client ([^\\]:]+)(?::(\\d+))?\\])? (.*)$"

  /** VRL `parse_apache_log(value, format)` — format literal 'common' /
    * 'combined' / 'error'. */
  private[functions] def parseApacheLogStruct(v: Expression, fmtE: Expression): Expression = {
    val fmt = fmtE match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        "parse_apache_log: the format argument must be a string literal")
    }
    fmt match {
      case "common" => parseCommonLogStruct(v, combined = false)
      case "combined" => parseCommonLogStruct(v, combined = true)
      case "error" =>
        val nullStr = Literal.create(null, StringType)
        def g(i: Int) = RegExpExtract(v, Literal(ApacheErrorPat), Literal(i))
        def emptyNull(e: Expression): Expression =
          If(EqualTo(e, Literal("")), nullStr, e)
        val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
        // apache stamps "Fri Sep 09 10:42:29.902022 2011" (µs optional).
        // The redundant day-of-week is stripped first: Spark bans 'E' in
        // parse patterns since 3.0.
        val tsText = RegExpReplace(g(1), Literal("^[A-Za-z]{3} "), Literal(""))
        val ts = Coalesce(Seq(
          ParseToTimestamp(tsText,
            Some(Literal("MMM dd HH:mm:ss.SSSSSS yyyy")),
            TimestampType, Some(tz), false),
          ParseToTimestamp(tsText, Some(Literal("MMM dd HH:mm:ss yyyy")),
            TimestampType, Some(tz), false)))
        val fields: Seq[(String, Expression)] = Seq(
          "client" -> emptyNull(g(6)),
          "message" -> g(8),
          "module" -> emptyNull(g(2)),
          "pid" -> Cast(emptyNull(g(4)), IntegerType, None, EvalMode.TRY),
          "port" -> Cast(emptyNull(g(7)), IntegerType, None, EvalMode.TRY),
          "severity" -> g(3),
          "timestamp" -> ts)
        val struct = CreateNamedStruct(fields.flatMap {
          case (n, e) => Seq(Literal(n), e) })
        If(RLike(v, Literal(ApacheErrorPat)), struct,
          Literal.create(null, struct.dataType))
      case other => throw new IllegalArgumentException(
        s"parse_apache_log: unsupported format `$other` " +
          "(supported: common, combined, error)")
    }
  }

  // nginx combined: $remote_addr - $remote_user [$time_local] "$request"
  // $status $body_bytes_sent "$http_referer" "$http_user_agent"
  private val NginxCombinedPat =
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"([^\"]*)\" (\\d{1,3}) (\\d+) " +
      "\"([^\"]*)\" \"([^\"]*)\"$"

  // nginx error log: yyyy/MM/dd HH:mm:ss [level] pid#tid: *cid message,
  // with optional trailing `, client: …`, `, server: …`, `, request:
  // "…"`, `, upstream: "…"`, `, host: "…"` annotations
  // the message matches LAZILY against the anchored annotation tail (no
  // trailing `.*`): a comma inside the message — quoted paths, URLs —
  // stays in the message instead of truncating it, exactly the VRL
  // stdlib's anchoring. The tail is captured as ONE generic
  // `, name: value` sequence (value quoted or comma-free), so an
  // annotation this shim does not extract (`, subrequest:` between
  // request and host, `, referrer:` at the end) never derails the ones
  // it does — each known field extracts from the tail separately.
  private val NginxErrorPat =
    "^(\\d{4}/\\d{2}/\\d{2} \\d{2}:\\d{2}:\\d{2}) \\[(\\w+)\\] " +
      "(\\d+)#(\\d+):(?: \\*(\\d+))? (.*?)" +
      "((?:, [a-z_]+: (?:\"[^\"]*\"|[^,]*))*)$"

  /** nginx `error` format → VRL's field set (cid/client/host/message/
    * pid/request/server/severity/tid/timestamp/upstream); TRY-free by
    * construction — every numeric group is digits-only and the
    * timestamp parse is failOnError=false. */
  private def nginxErrorStruct(v: Expression): Expression = {
    val nullStr = Literal.create(null, StringType)
    def g(i: Int) = RegExpExtract(v, Literal(NginxErrorPat), Literal(i))
    def emptyNull(e: Expression): Expression =
      If(EqualTo(e, Literal("")), nullStr, e)
    // known annotations extract INDIVIDUALLY from the captured tail —
    // position-independent, so an unknown annotation between them
    // (subrequest, referrer) costs nothing
    val tail = g(7)
    def annot(name: String, quoted: Boolean): Expression = {
      val pat = if (quoted) s", $name: \"([^\"]*)\"" else s", $name: ([^,]*)"
      emptyNull(RegExpExtract(tail, Literal(pat), Literal(1)))
    }
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val fields: Seq[(String, Expression)] = Seq(
      "cid" -> Cast(emptyNull(g(5)), LongType, None, EvalMode.TRY),
      "client" -> annot("client", quoted = false),
      "host" -> annot("host", quoted = true),
      "message" -> g(6),
      "pid" -> Cast(g(3), IntegerType, None, EvalMode.TRY),
      "request" -> annot("request", quoted = true),
      "server" -> annot("server", quoted = false),
      "severity" -> g(2),
      "tid" -> Cast(g(4), IntegerType, None, EvalMode.TRY),
      "timestamp" -> ParseToTimestamp(g(1),
        Some(Literal("yyyy/MM/dd HH:mm:ss")), TimestampType, Some(tz), false),
      "upstream" -> annot("upstream", quoted = true))
    val struct = CreateNamedStruct(fields.flatMap {
      case (n, e) => Seq(Literal(n), e) })
    If(RLike(v, Literal(NginxErrorPat)), struct,
      Literal.create(null, struct.dataType))
  }

  // k8s ingress-nginx upstreaminfo: combined's head + request_length,
  // request_time, [proxy_upstream_name], [alt_name or -], upstream_addr,
  // upstream_response_length, upstream_response_time, upstream_status,
  // req_id
  private val NginxIngressPat =
    "^(\\S+) - (\\S+) \\[([^\\]]+)\\] \"([^\"]*)\" (\\d{1,3}) (\\d+) " +
      "\"([^\"]*)\" \"([^\"]*)\" (\\d+) ([0-9.]+) \\[([^\\]]*)\\] " +
      "\\[([^\\]]*)\\] (\\S+) (\\d+|-) ([0-9.]+|-) (\\d{1,3}|-) (\\S+)$"

  /** ingress-nginx `upstreaminfo` format → VRL's field set. */
  private def nginxIngressStruct(v: Expression): Expression = {
    val nullStr = Literal.create(null, StringType)
    def g(i: Int) = RegExpExtract(v, Literal(NginxIngressPat), Literal(i))
    def dashNull(e: Expression): Expression =
      If(EqualTo(e, Literal("-")), nullStr, e)
    def emptyNull(e: Expression): Expression =
      If(EqualTo(e, Literal("")), nullStr, e)
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val fields: Seq[(String, Expression)] = Seq(
      "body_bytes_size" -> Cast(g(6), LongType, None, EvalMode.TRY),
      "http_referer" -> dashNull(g(7)),
      "http_user_agent" -> dashNull(g(8)),
      "proxy_alternative_upstream_name" -> dashNull(emptyNull(g(12))),
      "proxy_upstream_name" -> emptyNull(g(11)),
      "remote_addr" -> g(1),
      "remote_user" -> dashNull(g(2)),
      "req_id" -> g(17),
      "request" -> g(4),
      "request_length" -> Cast(g(9), LongType, None, EvalMode.TRY),
      "request_time" -> Cast(g(10), DoubleType, None, EvalMode.TRY),
      "status" -> Cast(g(5), IntegerType),
      "timestamp" -> ParseToTimestamp(g(3), Some(Literal(ClfTimestampFmt)),
        TimestampType, Some(tz), false),
      "upstream_addr" -> dashNull(g(13)),
      "upstream_response_length" ->
        Cast(dashNull(g(14)), LongType, None, EvalMode.TRY),
      "upstream_response_time" ->
        Cast(dashNull(g(15)), DoubleType, None, EvalMode.TRY),
      "upstream_status" ->
        Cast(dashNull(g(16)), IntegerType, None, EvalMode.TRY))
    val struct = CreateNamedStruct(fields.flatMap {
      case (n, e) => Seq(Literal(n), e) })
    If(RLike(v, Literal(NginxIngressPat)), struct,
      Literal.create(null, struct.dataType))
  }

  /** VRL `parse_nginx_log(value, format)` — 'combined' (VRL's field
    * names: client/referer, not host/referrer), 'error', and
    * 'ingress_upstreaminfo'. */
  private[functions] def parseNginxLogStruct(v: Expression, fmtE: Expression): Expression = {
    val fmt = fmtE match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        "parse_nginx_log: the format argument must be a string literal")
    }
    if (fmt == "error") return nginxErrorStruct(v)
    if (fmt == "ingress_upstreaminfo") return nginxIngressStruct(v)
    require(fmt == "combined",
      s"parse_nginx_log: unsupported format `$fmt` " +
        "(supported: combined, error, ingress_upstreaminfo)")
    val nullStr = Literal.create(null, StringType)
    def dashNull(e: Expression): Expression =
      If(EqualTo(e, Literal("-")), nullStr, e)
    def g(i: Int) = RegExpExtract(v, Literal(NginxCombinedPat), Literal(i))
    val req = g(4)
    val ReqPat = "^(\\S+) (\\S+) (\\S+)$"
    def rq(i: Int): Expression =
      If(RLike(req, Literal(ReqPat)),
        RegExpExtract(req, Literal(ReqPat), Literal(i)), nullStr)
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    val fields: Seq[(String, Expression)] = Seq(
      "agent" -> dashNull(g(8)),
      "client" -> g(1),
      "method" -> rq(1),
      "path" -> rq(2),
      "protocol" -> rq(3),
      "referer" -> dashNull(g(7)),
      "request" -> req,
      "size" -> Cast(g(6), LongType, None, EvalMode.TRY),
      "status" -> Cast(g(5), IntegerType),
      "timestamp" -> ParseToTimestamp(g(3), Some(Literal(ClfTimestampFmt)),
        TimestampType, Some(tz), false),
      "user" -> dashNull(g(2)))
    val struct = CreateNamedStruct(fields.flatMap {
      case (n, e) => Seq(Literal(n), e) })
    If(RLike(v, Literal(NginxCombinedPat)), struct,
      Literal.create(null, struct.dataType))
  }

  private val SeverityNames = Seq(
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug")
  private val FacilityNames = Seq(
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clock",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7")

  // RFC 5424: <pri>VERSION TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD [MSG]
  private val Rfc5424 =
    "^<(\\d{1,3})>(\\d{1,2}) (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) " +
      "(-|(?:\\[.*\\])+)(?: (.*))?$"
  // RFC 3164: <pri>Mmm dd hh:mm:ss HOST TAG[PID]: MSG
  private val Rfc3164 =
    "^<(\\d{1,3})>([A-Z][a-z]{2}\\s+\\d{1,2} \\d{2}:\\d{2}:\\d{2}) " +
      "(\\S+) ([^\\s:\\[]+)(?:\\[(\\d+)\\])?:\\s?(.*)$"

  /** VRL `parse_syslog(value)` → the stdlib's object shape
    * `struct<appname, facility, hostname, message, msgid, procid,
    * severity, timestamp, version>` for RFC 5424 with an RFC 3164
    * fallback (VRL accepts both), composed entirely from codegen'd
    * regexp extraction + keyword lookup — no interpreter. 3164
    * timestamps carry no year; the current year is assumed, like VRL.
    * Unparseable lines yield a null struct (VRL errors; `, err =`
    * caveat as with parse_url). */
  private[functions] def parseSyslogStruct(v: Expression): Expression = {
    val nullStr = Literal.create(null, StringType)
    def dashNull(e: Expression): Expression =
      If(EqualTo(e, Literal("-")), nullStr, e)
    def sevName(pri: Expression): Expression =
      GetArrayItem(CreateArray(SeverityNames.map(Literal(_))),
        BitwiseAnd(pri, Literal(7)))
    // the regex admits \d{1,3} up to 999 but valid PRI is ≤ 191 (facility
    // ≤ 23): guard the lookup — an unguarded array index THROWS under
    // default ANSI instead of degrading, so one hostile line would kill
    // the whole micro-batch
    def facName(pri: Expression): Expression =
      If(LessThanOrEqual(pri, Literal(191)),
        GetArrayItem(CreateArray(FacilityNames.map(Literal(_))),
          ShiftRight(pri, Literal(3))),
        nullStr)
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone

    // groups: 1 pri, 2 version, 3 timestamp, 4 hostname, 5 appname,
    // 6 procid, 7 msgid, 8 structured-data, 9 message
    def g5424(i: Int) = RegExpExtract(v, Literal(Rfc5424), Literal(i))
    val pri5424 = Cast(g5424(1), IntegerType)
    val s5424 = CreateNamedStruct(Seq(
      Literal("appname"), dashNull(g5424(5)),
      Literal("facility"), facName(pri5424),
      Literal("hostname"), dashNull(g5424(4)),
      Literal("message"), g5424(9),
      Literal("msgid"), dashNull(g5424(7)),
      Literal("procid"), dashNull(g5424(6)),
      Literal("severity"), sevName(pri5424),
      // TRY: the wire field is any \S+ — a malformed timestamp degrades
      // to null (a plain Cast throws under default ANSI, killing the
      // batch on one corrupt line)
      Literal("timestamp"),
      Cast(dashNull(g5424(3)), TimestampType, Some(tz), EvalMode.TRY),
      Literal("version"), Cast(g5424(2), IntegerType)))

    def g3164(i: Int) = RegExpExtract(v, Literal(Rfc3164), Literal(i))
    val pri3164 = Cast(g3164(1), IntegerType)
    // no year on the wire: prepend the current one (VRL's assumption),
    // collapse the space-padded day, parse with a literal pattern
    val ts3164 = ParseToTimestamp(
      ConcatWs(Seq(Literal(" "),
        Cast(Year(CurrentDate(Some(tz))), StringType),
        RegExpReplace(g3164(2), Literal("\\s+"), Literal(" ")))),
      Some(Literal("yyyy MMM d HH:mm:ss")), TimestampType, Some(tz), false)
    val s3164 = CreateNamedStruct(Seq(
      Literal("appname"), g3164(4),
      Literal("facility"), facName(pri3164),
      Literal("hostname"), g3164(3),
      Literal("message"), g3164(6),
      Literal("msgid"), nullStr,
      Literal("procid"), dashNull(If(EqualTo(g3164(5), Literal("")),
        Literal("-"), g3164(5))),
      Literal("severity"), sevName(pri3164),
      Literal("timestamp"), ts3164,
      Literal("version"), Cast(nullStr, IntegerType)))

    If(RLike(v, Literal(Rfc5424)), s5424,
      If(RLike(v, Literal(Rfc3164)), s3164,
        Literal.create(null, s3164.dataType)))
  }

  /** VRL `parse_url(url)` → `struct<scheme, username, password, host,
    * port, path, query: map<string,string>, fragment>` (vrl stdlib
    * parse_url's object shape), composed from Spark's codegen'd ParseUrl
    * part extraction + str_to_map for the query object. An unparseable
    * URL yields null parts (VRL errors instead — with `, err =` the
    * value side is null either way, the err message is not populated;
    * documented divergence). */
  private[functions] def parseUrlStruct(u: Expression): Expression = {
    def part(p: String) = new ParseUrl(Seq(u, Literal(p)))
    val userinfo = part("USERINFO")
    val nullStr = Literal.create(null, StringType)
    CreateNamedStruct(Seq(
      Literal("scheme"), part("PROTOCOL"),
      Literal("username"), SubstringIndex(userinfo, Literal(":"), Literal(1)),
      Literal("password"),
      If(Contains(userinfo, Literal(":")),
        SubstringIndex(userinfo, Literal(":"), Literal(-1)), nullStr),
      Literal("host"), part("HOST"),
      // TRY cast: a portless authority extracts '' which must yield
      // port = null like VRL — a plain Cast THROWS on '' under Spark's
      // default ANSI mode (the common no-port case, not an edge)
      Literal("port"),
      Cast(RegExpExtract(part("AUTHORITY"), Literal(":([0-9]+)$"), Literal(1)),
        IntegerType, None, EvalMode.TRY),
      Literal("path"), part("PATH"),
      Literal("query"),
      new StringToMap(part("QUERY"), Literal("&"), Literal("=")),
      Literal("fragment"), part("REF")))
  }

  /** VRL `parse_regex(value, r'(?P<name>…)')` → struct of the named
    * captures. The pattern must be a literal (it always is — VRL regex
    * literals are compile-time); `(?P<` (Rust/VRL spelling) translates to
    * Java's `(?<`, group INDICES are computed here once, and each field
    * becomes a codegen'd regexp_extract. A non-matching row yields a
    * null struct (VRL errors; same `, err =` caveat as parse_url). */
  private[functions] def parseRegexStruct(v: Expression, patE: Expression): Expression = {
    val pat = patE match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        "parse_regex: the pattern argument must be a (raw) string literal")
    }
    val javaPat = pat.replace("(?P<", "(?<")
    val groups = namedGroups(javaPat)
    require(groups.nonEmpty,
      s"parse_regex: pattern has no named capture groups: `$pat`")
    val struct = CreateNamedStruct(groups.flatMap { case (name, idx) =>
      Seq(Literal(name), RegExpExtract(v, Literal(javaPat), Literal(idx)))
    })
    If(RLike(v, Literal(javaPat)), struct, Literal.create(null, struct.dataType))
  }

  // The grok base dictionary (the patterns real grok expressions use —
  // logstash-patterns-core's grok-patterns file is the de-facto
  // standard); every entry uses only NON-capturing groups so the
  // translator's group indexing stays exact. Composites are expanded
  // inline rather than referenced, since entries here are plain regex.
  private val GrokDict: Map[String, String] = {
    val ipv4 = "(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])"
    val hostname = "\\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})(?:\\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*\\.?\\b"
    val number = "(?:[+-]?(?:[0-9]+(?:\\.[0-9]+)?))"
    Map(
      "WORD" -> "\\b\\w+\\b",
      "NOTSPACE" -> "\\S+",
      "SPACE" -> "\\s*",
      "DATA" -> ".*?",
      "GREEDYDATA" -> ".*",
      "INT" -> "[+-]?[0-9]+",
      "NONNEGINT" -> "[0-9]+",
      "POSINT" -> "[1-9][0-9]*",
      "NUMBER" -> number,
      "BASE10NUM" -> number,
      "BASE16NUM" -> "(?:0[xX])?[0-9A-Fa-f]+",
      "IP" -> ipv4,
      "IPV4" -> ipv4,
      "HOSTNAME" -> hostname,
      "IPORHOST" -> s"(?:$ipv4|$hostname)",
      "HOSTPORT" -> s"(?:$ipv4|$hostname):[0-9]+",
      "USER" -> "[a-zA-Z0-9._-]+",
      "USERNAME" -> "[a-zA-Z0-9._-]+",
      "EMAILADDRESS" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+",
      "UUID" -> "[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
      "MONTH" -> "\\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\\b",
      "MONTHDAY" -> "(?:0[1-9]|[12][0-9]|3[01]|[1-9])",
      "YEAR" -> "(?:\\d\\d){1,2}",
      "TIME" -> "\\d{2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?",
      "TIMESTAMP_ISO8601" ->
        "\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?(?:Z|[+-]\\d{2}:?\\d{2})?",
      "HTTPDATE" -> "\\d{2}/\\w{3}/\\d{4}:\\d{2}:\\d{2}:\\d{2} [+-]\\d{4}",
      "SYSLOGTIMESTAMP" ->
        "\\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]* +\\d{1,2} \\d{2}:\\d{2}:\\d{2}",
      "LOGLEVEL" ->
        ("(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE|" +
          "[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|" +
          "[Cc]rit(?:ical)?|CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE|" +
          "EMERG(?:ENCY)?|[Ee]merg(?:ency)?)"),
      "QS" -> "\"(?:[^\"\\\\]|\\\\.)*\"",
      "QUOTEDSTRING" -> "\"(?:[^\"\\\\]|\\\\.)*\"",
      "PATH" -> "(?:/[\\w.-]+)+",
      "UNIXPATH" -> "(?:/[\\w.-]+)+",
      "URIPROTO" -> "[A-Za-z][A-Za-z0-9+.-]*",
      "URI" -> "[A-Za-z][A-Za-z0-9+.-]*://\\S+",
      "WORD_DASH" -> "\\b[\\w-]+\\b")
  }

  private val GrokRef = "%\\{([A-Z0-9_]+)(?::([A-Za-z0-9_@.\\-\\[\\]]+))?(?::(int|float))?\\}".r

  /** VRL `parse_grok(value, pattern)` → struct of the pattern's named
    * captures. The `%{SYNTAX:name}` / `%{SYNTAX:name:int|float}` /
    * unnamed `%{SYNTAX}` references are translated ONCE at analysis
    * against the standard grok base dictionary (plain regex text between
    * references passes through verbatim, its own capturing groups index-
    * tracked), and each field compiles to a codegen'd regexp_extract —
    * the same machinery as parse_regex. An unknown SYNTAX fails analysis
    * naming it; an unmatched line yields a null struct (VRL errors; the
    * `, err =` caveat as with the other parse_* shims). */
  /** `%{SYNTAX:name}` grok pattern → (java regex, named fields with
    * their capture index and optional int/float cast) — shared by
    * parse_grok and parse_groks. */
  private def grokTranslate(pat: String): (String, Seq[(String, Int, Option[String])]) = {
    val sb = new StringBuilder
    val fields = scala.collection.mutable.ArrayBuffer[(String, Int, Option[String])]()
    var idx = 0 // running count of capturing groups in the java pattern
    var last = 0
    for (m <- GrokRef.findAllMatchIn(pat)) {
      val literalPart = pat.substring(last, m.start)
      sb ++= literalPart
      idx += countCapturing(literalPart)
      val syntax = m.group(1)
      val regex = GrokDict.getOrElse(syntax, throw new IllegalArgumentException(
        s"parse_grok: unknown pattern %{$syntax}; supported: " +
          GrokDict.keys.toSeq.sorted.mkString(" ")))
      Option(m.group(2)) match {
        case Some(name) =>
          idx += 1
          fields += ((name, idx, Option(m.group(3))))
          sb ++= s"($regex)"
        case None => sb ++= s"(?:$regex)"
      }
      last = m.end
    }
    sb ++= pat.substring(last)
    require(fields.nonEmpty,
      s"parse_grok: pattern has no named captures (%{SYNTAX:name}): `$pat`")
    (sb.toString, fields.toSeq)
  }

  /** one field's codegen'd extraction, TRY-cast to its declared type:
    * the grok sub-pattern bounds the text shape but not the range
    * (e.g. a 30-digit %{INT:n:int} overflows) — degrade the field to
    * null instead of throwing under default ANSI */
  private def grokField(v: Expression, javaPat: String, i: Int,
      cast: Option[String]): Expression = {
    val raw = RegExpExtract(v, Literal(javaPat), Literal(i))
    cast match {
      case Some("int") => Cast(raw, LongType, None, EvalMode.TRY)
      case Some("float") => Cast(raw, DoubleType, None, EvalMode.TRY)
      case _ => raw
    }
  }

  private[functions] def parseGrokStruct(v: Expression, patE: Expression): Expression = {
    val pat = patE match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => throw new IllegalArgumentException(
        "parse_grok: the pattern argument must be a string literal")
    }
    val (javaPat, fields) = grokTranslate(pat)
    val struct = CreateNamedStruct(fields.flatMap { case (name, i, cast) =>
      Seq(Literal(name), grokField(v, javaPat, i, cast))
    })
    If(RLike(v, Literal(javaPat)), struct, Literal.create(null, struct.dataType))
  }

  /** VRL `parse_groks(value, patterns)` — the patterns tried in order,
    * first match wins (vrl stdlib; Datadog's multi-grok idiom). Each
    * pattern's struct is reshaped onto the UNION of all patterns' named
    * fields (first-seen order; a field two patterns type differently
    * degrades to string) so the first-match selection is a codegen'd
    * Coalesce over same-shaped structs. No pattern matching → null
    * (VRL errors; the `, err =` caveat as with parse_grok). */
  private[functions] def parseGroksStruct(v: Expression, pats: Seq[String]): Expression = {
    val translated = pats.map(grokTranslate)
    def fieldType(c: Option[String]): DataType = c match {
      case Some("int") => LongType
      case Some("float") => DoubleType
      case _ => StringType
    }
    val union = scala.collection.mutable.LinkedHashMap[String, DataType]()
    translated.foreach { case (_, fs) =>
      fs.foreach { case (n, _, c) =>
        val t = fieldType(c)
        union.get(n) match {
          case None => union(n) = t
          case Some(prev) if prev == t => ()
          case Some(_) => union(n) = StringType
        }
      }
    }
    val structs = translated.map { case (javaPat, fs) =>
      val byName = fs.map(f => f._1 -> f).toMap
      val struct = CreateNamedStruct(union.toSeq.flatMap { case (n, ut) =>
        val e: Expression = byName.get(n) match {
          case Some((_, i, c)) =>
            val typed = grokField(v, javaPat, i, c)
            if (fieldType(c) == ut) typed else Cast(typed, ut)
          case None => Literal.create(null, ut)
        }
        Seq(Literal(n), e)
      })
      If(RLike(v, Literal(javaPat)), struct,
        Literal.create(null, struct.dataType)): Expression
    }
    Coalesce(structs)
  }

  /** Count of capturing groups in a regex fragment — escape- and
    * class-aware, same scanner discipline as [[namedGroups]]. */
  private def countCapturing(p: String): Int = {
    var i = 0; var n = 0; var inClass = false
    while (i < p.length) {
      p.charAt(i) match {
        case '\\' => i += 1
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass =>
          if (!(i + 1 < p.length && p.charAt(i + 1) == '?')) n += 1
        case _ =>
      }
      i += 1
    }
    n
  }

  /** (name, 1-based group index) for each NAMED capturing group, indexed
    * among ALL capturing groups — escape- and character-class-aware. */
  private[functions] def namedGroups(p: String): Seq[(String, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    var i = 0
    var idx = 0
    var inClass = false
    while (i < p.length) {
      p.charAt(i) match {
        case '\\' => i += 1 // skip the escaped char
        case '[' if !inClass => inClass = true
        case ']' if inClass => inClass = false
        case '(' if !inClass =>
          if (i + 1 < p.length && p.charAt(i + 1) == '?') {
            // named group (?<name>…), NOT lookbehind (?<= / (?<!
            if (i + 3 < p.length && p.charAt(i + 2) == '<' &&
                p.charAt(i + 3) != '=' && p.charAt(i + 3) != '!') {
              idx += 1
              val end = p.indexOf('>', i + 3)
              require(end > 0, s"parse_regex: unclosed group name in `$p`")
              out += ((p.substring(i + 3, end), idx))
              i = end
            } // else non-capturing / lookaround: no index
          } else idx += 1 // plain capturing group
        case _ =>
      }
      i += 1
    }
    out.toSeq
  }
}

/** VRL `length(value)` is polymorphic — array → element count, map →
  * entry count, string → UTF-8 BYTE count (VRL's documented semantics;
  * its `strlen` is the character count, which the remap processor
  * aliases to Spark's `char_length`). Spark's `length`/`size` are each
  * monomorphic, so this dispatches on the resolved child type. */
case class VrlLength(child: Expression)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType | _: MapType => Size(child, legacySizeOfNull = false)
    case BinaryType => Length(child)
    case StringType => OctetLength(child)
    case other => throw new IllegalArgumentException(
      s"length() takes a string, array or map, got ${other.simpleString}")
  }
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** VRL `flatten(value[, separator])` is polymorphic like `length`:
  * an ARRAY flattens nested arrays to a single level (recursively —
  * the schema states the nesting depth, so Spark's one-level Flatten
  * applies until the element type is scalar); an OBJECT flattens nested
  * structs into separator-joined keys (`{"a": {"b": 1}}` → `{"a.b": 1}`,
  * VRL's shape), a pure CreateNamedStruct/GetStructField composition.
  * Maps of maps cannot flatten statically (keys are data, not schema) —
  * rejected with the divergence note. */
case class VrlFlatten(child: Expression, sep: String)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType =>
      var e: Expression = child
      while (e.dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[ArrayType])
        e = Flatten(e)
      e
    case st: StructType =>
      require(st.fields.nonEmpty, "flatten: empty object")
      val fs = VrlFlatten.fields(child, st, "", sep)
      // a literal dotted key colliding with a flattened path would emit
      // DUPLICATE struct field names, making downstream by-name access
      // ambiguous — rejected loudly, same contract as unflatten's inverse
      val names = fs.grouped(2).map(_.head.asInstanceOf[Literal].value.toString).toSeq
      val dups = names.diff(names.distinct).distinct
      require(dups.isEmpty,
        s"flatten: output field name collision on `${dups.mkString("`, `")}` — " +
          "a literal separator-joined key collides with a flattened path")
      CreateNamedStruct(fs)
    case other => throw new IllegalArgumentException(
      s"flatten() takes an array or object (struct), got ${other.simpleString}" +
        " — a map of maps flattens by DATA keys, which a typed column " +
        "program cannot address statically")
  }
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
object VrlFlatten {
  private[functions] def fields(base: Expression, st: StructType,
      prefix: String, sep: String): Seq[Expression] =
    st.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      val fe = GetStructField(base, i, Some(f.name))
      f.dataType match {
        case inner: StructType => fields(fe, inner, prefix + f.name + sep, sep)
        case _ => Seq(Literal(prefix + f.name), fe)
      }
    }
}

/** VRL `unflatten(value[, separator])` — flatten's inverse: a struct
  * whose FIELD NAMES carry separator-joined paths (`{"a.b": 1,
  * "a.c": 2, "d": 3}`) nests back into `{"a": {"b": 1, "c": 2},
  * "d": 3}`. Dotted field names are SCHEMA, so this is a pure
  * CreateNamedStruct regrouping — schema-static like flatten's struct
  * arm. A map column's keys are data, not schema — rejected with the
  * same divergence note as map flatten. */
case class VrlUnflatten(child: Expression, sep: String)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case st: StructType =>
      VrlUnflatten.regroup(
        st.fields.toSeq.zipWithIndex.map { case (f, i) =>
          // a name with no real separator segments (e.g. the separator
          // itself, or leading/trailing separators collapsing to
          // nothing) stays a verbatim leaf — never an empty path
          val segs = f.name.split(java.util.regex.Pattern.quote(sep)).toSeq
            .filter(_.nonEmpty)
          (if (segs.isEmpty) Seq(f.name) else segs,
            GetStructField(child, i, Some(f.name)): Expression)
        })
    case other => throw new IllegalArgumentException(
      s"unflatten() takes an object (struct), got ${other.simpleString} — " +
        "a map's keys are data, not schema, which a typed column " +
        "program cannot regroup statically")
  }
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
object VrlUnflatten {
  /** group (path, value) pairs by head segment, first-seen order; a
    * multi-segment path recurses, a 1-segment path is a leaf. A name
    * that is BOTH a leaf and a prefix (`{"x": 1, "x.y": 2}`) cannot
    * nest a value inside itself in a typed struct — REJECTED loudly at
    * analysis (a silent drop or a duplicate field name would each
    * corrupt downstream access); so are two identical full paths. */
  private[functions] def regroup(fields: Seq[(Seq[String], Expression)]): Expression = {
    val order = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[(Seq[String], Expression)]]()
    fields.foreach { case (path, e) =>
      order.getOrElseUpdate(path.head,
        scala.collection.mutable.ArrayBuffer()) += ((path, e))
    }
    CreateNamedStruct(order.toSeq.flatMap { case (head, group) =>
      val (leaves, nested) = group.partition(_._1.size == 1)
      if (leaves.size > 1 || (leaves.nonEmpty && nested.nonEmpty))
        throw new IllegalArgumentException(
          s"unflatten: `$head` is both a value and a nesting prefix " +
            "(or appears twice) — a typed struct cannot hold both; " +
            "rename one of the colliding fields first")
      if (nested.isEmpty) Seq(Literal(head), leaves.head._2)
      else Seq(Literal(head),
        regroup(nested.toSeq.map { case (p, e) => (p.tail, e) }))
    })
  }
}

/** VRL `to_timestamp(value[, unit])` / `from_unix_timestamp(value,
  * unit: "seconds")` — integers convert at the given unit
  * (seconds/milliseconds/nanoseconds, VRL's set), strings parse as
  * RFC 3339 / ISO-8601 (Spark's own timestamp cast), timestamps pass
  * through. Dispatch on the resolved child type like [[VrlLength]];
  * the unit is validated at registration. */
case class VrlToTimestamp(child: Expression, unit: String)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = child.dataType match {
    case TimestampType => child
    case StringType =>
      Cast(child, TimestampType, Some(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    case ByteType | ShortType | IntegerType | LongType | DoubleType |
        FloatType | _: DecimalType =>
      unit match {
        case "seconds" => SecondsToTimestamp(child)
        case "milliseconds" => MillisToTimestamp(Cast(child, LongType))
        case "nanoseconds" =>
          MicrosToTimestamp(Cast(IntegralDivide(Cast(child, LongType),
            Literal(1000L), EvalMode.LEGACY), LongType))
      }
    case other => throw new IllegalArgumentException(
      s"to_timestamp: cannot convert ${other.simpleString}")
  }
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** VRL `parse_timestamp(value, format)` takes a strftime-style format
  * (`%Y-%m-%dT%H:%M:%S%z` — chrono's dialect, vrl stdlib
  * parse_timestamp); Spark's `to_timestamp` takes a Java DateTimeFormatter
  * pattern. The format must be a literal (it is in every VRL program —
  * the language has no dynamic format strings reaching this call in
  * practice); it is translated ONCE at analysis and the whole call
  * replaced by Spark's own ParseToTimestamp, so parsing stays codegen'd.
  * Unsupported specifiers fail analysis loudly with the supported list.
  */
case class VrlStrptime(left: Expression, right: Expression)
    extends Expression with RuntimeReplaceable {
  override lazy val replacement: Expression = right match {
    case Literal(fmt: UTF8String, StringType) =>
      // timezone set here, not by the analyzer's ResolveTimeZone — a
      // lazily-built replacement is constructed after that rule ran
      ParseToTimestamp(left, Some(Literal(VrlStrptime.translate(fmt.toString))),
        TimestampType,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone), false)
    case _ => throw new IllegalArgumentException(
      "parse_timestamp: the format argument must be a string literal")
  }
  override def children: Seq[Expression] = Seq(left, right)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(left = newChildren(0), right = newChildren(1))
}

object VrlStrptime {
  // strftime → DateTimeFormatter, the chrono specifiers VRL programs use.
  // %s (epoch seconds) has no Java pattern letter — callers should use
  // to_timestamp(to_int(x)) instead; rejected below with the others.
  private val Specifiers = Map(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd", "%e" -> "d",
    "%H" -> "HH", "%I" -> "hh", "%M" -> "mm", "%S" -> "ss", "%p" -> "a",
    "%b" -> "MMM", "%B" -> "MMMM", "%a" -> "EEE", "%A" -> "EEEE",
    "%j" -> "DDD", "%z" -> "xx", "%:z" -> "xxx", "%Z" -> "zzz",
    "%3f" -> "SSS", "%6f" -> "SSSSSS", "%9f" -> "SSSSSSSSS",
    "%F" -> "yyyy-MM-dd", "%T" -> "HH:mm:ss", "%R" -> "HH:mm",
    "%D" -> "MM/dd/yy", "%%" -> "'%'")

  /** Literal text (anything outside a % specifier) is single-quoted when
    * it contains letters — Java patterns treat bare letters as pattern
    * fields — and embedded quotes double. */
  def translate(fmt: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        val spec = Seq(3, 2).map(n => fmt.slice(i, i + n)).find(Specifiers.contains)
        spec match {
          case Some(s) => out ++= Specifiers(s); i += s.length
          case None => throw new IllegalArgumentException(
            s"parse_timestamp: unsupported strftime specifier at `${fmt.drop(i).take(3)}`; " +
              s"supported: ${Specifiers.keys.toSeq.sorted.mkString(" ")}")
        }
      } else {
        val start = i
        while (i < fmt.length && fmt.charAt(i) != '%') i += 1
        val lit = fmt.substring(start, i)
        if (lit.exists(c => c.isLetter || c == '\''))
          out ++= "'" + lit.replace("'", "''") + "'"
        else out ++= lit
      }
    }
    out.toString
  }
}

/** VRL `parse_key_value(value, key_value_delimiter = "=",
  * field_delimiter = " ")` → `map<string,string>` — quote-aware, which
  * is why this is not a `str_to_map` alias: a double-quoted value may
  * CONTAIN the field delimiter (`msg="hello world" level=info`), so the
  * split must respect quoting, exactly VRL's parser. Whitespace around
  * keys/values is trimmed (VRL's `whitespace: lenient` default) and
  * standalone keys (no delimiter) map to "" like VRL's
  * `accept_standalone_key`. Codegen'd via a static kernel call — the
  * same pattern as [[BandedLevenshtein]].
  */
case class VrlParseKeyValue(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)

  override protected def nullSafeEval(v: Any, kv: Any, fd: Any): Any =
    VrlParseKeyValue.parse(v.asInstanceOf[UTF8String],
      kv.asInstanceOf[UTF8String], fd.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, kv, fd) =>
      s"${ev.value} = graft.functions.VrlParseKeyValue.parse($v, $kv, $fd);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): VrlParseKeyValue =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VrlParseKeyValue {
  def parse(value: UTF8String, kvDelim: UTF8String,
      fieldDelim: UTF8String): org.apache.spark.sql.catalyst.util.MapData = {
    val s = value.toString
    val kv = kvDelim.toString
    val fd = fieldDelim.toString
    val keys = scala.collection.mutable.ArrayBuffer[UTF8String]()
    val vals = scala.collection.mutable.ArrayBuffer[UTF8String]()
    val seen = scala.collection.mutable.HashMap[String, Int]()
    var i = 0
    val n = s.length
    def skipQuoted(from: Int): Int = {
      // from indexes the opening '"'; returns index AFTER the close
      var j = from + 1
      while (j < n && s.charAt(j) != '"') {
        if (s.charAt(j) == '\\' && j + 1 < n) j += 1
        j += 1
      }
      math.min(j + 1, n)
    }
    def nextDelim(from: Int, delim: String): Int = {
      var j = from
      while (j < n) {
        if (s.charAt(j) == '"') j = skipQuoted(j)
        else if (s.startsWith(delim, j)) return j
        else j += 1
      }
      n
    }
    def unquote(raw: String): String = {
      val t = raw.trim
      if (t.length >= 2 && t.head == '"' && t.last == '"')
        t.substring(1, t.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
      else t
    }
    while (i < n) {
      val fieldEnd = nextDelim(i, fd)
      val field = s.substring(i, fieldEnd)
      if (field.trim.nonEmpty) {
        val kvPos = nextDelim(i, kv) // absolute; may be past fieldEnd
        val (k, v) =
          if (kvPos < fieldEnd)
            (unquote(s.substring(i, kvPos)),
              unquote(s.substring(kvPos + kv.length, fieldEnd)))
          else (unquote(field), "") // standalone key
        if (k.nonEmpty) seen.get(k) match {
          case Some(idx) => vals(idx) = UTF8String.fromString(v) // last wins
          case None =>
            seen(k) = keys.size
            keys += UTF8String.fromString(k)
            vals += UTF8String.fromString(v)
        }
      }
      i = fieldEnd + fd.length
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      keys.toArray[Any], vals.toArray[Any])
  }
}
