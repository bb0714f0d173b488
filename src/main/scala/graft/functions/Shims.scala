package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Compatibility shims for DataFusion-only SQL functions the reference's
  * SQL surface exposes (SURVEY.md §7.3: date_bin, array_resize /
  * array_pop_* tail, substr_index, iszero) — entries of the [[Registry]]
  * table that expand into trees of existing codegen'd Catalyst expressions, so
  * they cost nothing at runtime versus hand-written SQL.
  *
  * Reference inventory: docs/docs/sql/7-scalar_functions.md (date_bin,
  * array functions); all shims keep DataFusion's 1-based array indexing.
  */
object Shims {

  /** Name -> expression-tree builder for every shim; part of
    * [[Registry.functions]]. */
  val builders: Seq[(String, Registry.Builder)] = Seq(
    // date_bin(stride_seconds, ts, origin_ts): origin-aligned bucketing —
    // origin + floor((ts - origin) / stride) * stride, in whole seconds.
    "date_bin_s" -> { exprs =>
      val Seq(stride, ts, origin) = exprs.take(3)
      val tsL = Cast(ts, LongType)
      val orL = Cast(origin, LongType)
      val strideL = Cast(stride, LongType)
      SecondsToTimestamp(Add(orL,
        Multiply(IntegralDivide(Subtract(tsL, orL), strideL, evalMode = EvalMode.LEGACY), strideL)))
    },

    // array_resize(arr, n, fill): truncate or pad with `fill` to length n.
    "array_resize" -> { exprs =>
      val Seq(arr, n, fill) = exprs.take(3)
      val size = Size(arr)
      Concat(Seq(
        Slice(arr, Literal(1), Least(Seq(n, size))),
        ArrayRepeat(fill, Greatest(Seq(Literal(0), Subtract(n, size))))))
    },

    // array_pop_back(arr) / array_pop_front(arr).
    "array_pop_back" -> { exprs =>
      val arr = exprs.head
      Slice(arr, Literal(1), Greatest(Seq(Literal(0), Subtract(Size(arr), Literal(1)))))
    },
    "array_pop_front" -> { exprs =>
      val arr = exprs.head
      Slice(arr, Literal(2), Greatest(Seq(Literal(0), Subtract(Size(arr), Literal(1)))))
    },

    // substr_index — DataFusion name for Spark's substring_index.
    "substr_index" -> { exprs =>
      SubstringIndex(exprs(0), exprs(1), exprs(2))
    },

    // iszero(x).
    "iszero" -> { exprs =>
      EqualTo(Cast(exprs.head, DoubleType), Literal(0.0))
    },

    // bloom_agg(value, est_items, num_bits) -> serialized bloom filter
    // over xxhash64(value) — the same sketch Spark's InjectRuntimeFilter
    // builds for runtime row-group pruning, exposed for explicit
    // semi-join prefilters (see Corpus.decontaminateBloom). Map-side
    // combinable; result size is num_bits/8 regardless of input rows.
    "bloom_agg" -> { exprs =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        new XxHash64(Seq(exprs(0))), exprs(1), exprs(2))
    },

    // bloom_might_contain(bloom_bytes, value): true if `value` MAY be in
    // the set the bloom was built over — no false negatives, so it is a
    // safe prefilter ahead of an exact confirm join.
    "bloom_might_contain" -> { exprs =>
      BloomFilterMightContain(exprs(0), new XxHash64(Seq(exprs(1))))
    })
}
