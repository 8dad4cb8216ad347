package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/**
 * SparkSessionExtensions hook registering graft's native expressions under
 * SQL names, so `spark.sql("SELECT dot_product(a, b) ...")` works next to
 * the Column API (`VectorFunctions.dotProduct`). Attach with
 * `SparkSession.builder().withExtensions(new GraftExtensions)` — done by
 * default in [[graft.GraftSession]].
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    /** Registers `name`; a call whose argument count is not in `arities`
      * fails with `usage`. */
    def register(name: String, cls: Class[_], usage: String, arities: Int*)(
        build: Seq[Expression] => Expression): Unit =
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        exprs => {
          require(arities.contains(exprs.length), usage)
          build(exprs)
        }))

    register("dot_product", classOf[DotProduct],
      "dot_product(arrayA, arrayB) takes 2 arguments", 2)(a => DotProduct(a.head, a(1)))
    register("ngram_hashes", classOf[NgramHashes],
      "ngram_hashes(tokens, n) takes 2 arguments", 2) { a =>
      NgramHashes(a.head, intLit("ngram_hashes", "n", a(1)))
    }
    register("quantize_i8", classOf[QuantizeI8],
      "quantize_i8(vector) takes 1 argument", 1)(a => QuantizeI8(a.head))
    register("rolling_hash", classOf[RollingHash],
      "rolling_hash(tokens[, portable]) takes 1-2 arguments", 1, 2) { a =>
      val portable = a.lift(1).exists {
        case Literal(v: Boolean, _) => v
        case other => throw new IllegalArgumentException(
          s"rolling_hash portable flag must be a boolean literal, got $other")
      }
      RollingHash(a.head, portable)
    }
    register("minhash_signature", classOf[MinHashSignature],
      "minhash_signature(hashes, numPerm) takes 2 arguments", 2) { a =>
      MinHashSignature(a.head, intLit("minhash_signature", "numPerm", a(1)))
    }
    register("simhash64", classOf[SimHash64],
      "simhash64(tokens) takes 1 argument", 1)(a => SimHash64(a.head))
    register("char_histogram", classOf[CharHistogram],
      "char_histogram(text) takes 1 argument", 1)(a => CharHistogram(a.head))
    register("l1_distance", classOf[L1Distance],
      "l1_distance(histA, histB) takes 2 arguments", 2)(a => L1Distance(a.head, a(1)))
    register("count_min_build", classOf[CountMinAgg],
      "count_min_build(item[, depth, width, seed]) takes 1 or 4 arguments", 1, 4) { a =>
      def int(i: Int, what: String) = intLit("count_min_build", what, a(i))
      if (a.length == 1) CountMinAgg(a.head, 5, 2048, 42).toAggregateExpression()
      else CountMinAgg(a.head, int(1, "depth"), int(2, "width"), int(3, "seed"))
        .toAggregateExpression()
    }
    register("count_min_merge", classOf[CountMinMergeAgg],
      "count_min_merge(sketch) takes 1 argument", 1) { a =>
      CountMinMergeAgg(a.head).toAggregateExpression()
    }
    register("count_min_query", classOf[CountMinQuery],
      "count_min_query(sketch, item) takes 2 arguments", 2)(a => CountMinQuery(a.head, a(1)))
    // media container codecs: static kernels bound by `Kernel`
    register("image_bytes", ImageCodecUtil.getClass,
      "image_bytes(kind, width, height, depth, pad) takes 5 arguments", 5)(
      ImageFunctions.encode.expr)
    register("image_meta", ImageCodecUtil.getClass,
      "image_meta(bytes) takes 1 argument", 1)(ImageFunctions.parse.expr)
    register("audio_bytes", MediaCodecUtil.getClass,
      "audio_bytes(sample_rate, channels, bits, n_samples, pad) takes 5 arguments", 5)(
      MediaFunctions.wavEncode.expr)
    register("audio_meta", MediaCodecUtil.getClass,
      "audio_meta(bytes) takes 1 argument", 1)(MediaFunctions.wavParse.expr)
    register("video_bytes", MediaCodecUtil.getClass,
      "video_bytes(timescale, duration, pad) takes 3 arguments", 3)(MediaFunctions.mp4Encode.expr)
    register("video_meta", MediaCodecUtil.getClass,
      "video_meta(bytes) takes 1 argument", 1)(MediaFunctions.mp4Parse.expr)
  }

  /** The integer literal `x` passed as `fn`'s `what` argument. */
  private def intLit(fn: String, what: String, x: Expression): Int = x match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn $what must be an integer literal, got $other")
  }
}
