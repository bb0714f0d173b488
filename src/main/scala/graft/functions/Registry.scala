package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** The graft SQL function library as ONE table, name -> expression
  * builder: the similarity/dedup kernels, the DataFusion shims, the
  * `graft_vrl_*` functions the remap processor compiles onto,
  * `try_pair`, `blocklist_hits` and `graft_cap_count_if` — the
  * reference's one UDF registry installed into every SessionContext
  * (plugin/udf/scalar_udf.rs). A session gets the table once, either
  * from [[install]] or from [[graft.plans.GraftExtensions]] at build;
  * after that no batch, processor or operator writes the session's
  * function registry again.
  *
  * `weighted_percentile_<pct>` is not in the table: its registration is
  * parameterized by the fraction list (WeightedPercentile.register(spark,
  * fractions)) and has no sensible session-wide default.
  */
object Registry {
  type Builder = Seq[Expression] => Expression

  /** Written last by [[install]], so its presence means the whole table
    * is in the session. Callable: `graft_functions_installed()` is true. */
  private val Sentinel = "graft_functions_installed"

  val functions: Seq[(String, Builder)] = Seq[(String, Builder)](
    "banded_levenshtein" -> (e => BandedLevenshtein(e(0), e(1), e(2))),
    "blocklist_hits" -> (e => BlocklistHits(e(0), e(1))),
    "bpe_encode" -> (e => BpeEncode(e(0), e(1))),
    "cdc_chunks" -> (e => CdcChunks(e(0), e(1), e(2))),
    "char_entropy" -> (e => CharEntropy(e(0))),
    "damerau_levenshtein" -> (e => DamerauLevenshtein(e(0), e(1))),
    "dot_product" -> (e => DotProduct(e(0), e(1))),
    "ema" -> { e =>
      require(e.length == 2, s"ema(x, alpha) takes 2 args, got ${e.length}")
      EmaWindow(e(0), e(1))
    },
    "graft_cap_count_if" -> CapCountIf.builder,
    "graft_vrl_slice" -> VrlSlice.builder,
    "hamming_distance" -> (e => HammingDistance(e(0), e(1))),
    "jaro_winkler" -> (e => JaroWinkler(e(0), e(1))),
    "minhash_sigs" -> (e => MinhashSigs(e(0), e(1))),
    "nfc_normalize" -> (e => NfcNormalize(e.head)),
    "simhash_bits" -> (e => SimhashBits(e(0), e(1))),
    "strip_accents" -> (e => StripAccents(e.head)),
    "topk_sketch" -> SpaceSavingTopK.builder,
    "try_pair" -> (e => TryPair(e(0))),
    "winnow_fps" -> (e => WinnowFps(e(0), e(1), e(2)))) ++
    Shims.builders ++ VrlLib.builders :+ (Sentinel -> (_ => Literal(true)))

  /** Make every function of the table resolvable in `spark`. One
    * registry lookup when the session already has the library (every
    * call after the first, and sessions built with GraftExtensions);
    * otherwise the table is registered once, under the registry's lock
    * so concurrent first calls do not register it twice. */
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def installed = reg.functionExists(FunctionIdentifier(Sentinel))
    if (!installed) reg.synchronized {
      if (!installed) functions.foreach { case (name, build) =>
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
      }
    }
  }
}
