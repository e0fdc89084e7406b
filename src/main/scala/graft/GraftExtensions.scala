package graft

import graft.functions.{CharWindows, DotLong, IntersectCountSorted, KmvSketch, LocalComponents, MinHashSigs, MinKSample, Shingles3, SimHashBits, SrpBandKeys, SumWeightedEntries, VecSumLong}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Engine extensions: custom Catalyst functions, installable either at
  * session build time (`.config("spark.sql.extensions",
  * "graft.GraftExtensions")`) or retro-fitted onto an existing session with
  * [[GraftExtensions.install]] — the driver owns the sessions handed to
  * `SparkEntry.queries`, so operators call `install` defensively.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("dot_long"),
      new ExpressionInfo(classOf[DotLong].getName, "dot_long"),
      (args: Seq[Expression]) => DotLong(args(0), args(1))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => args match {
        case Seq(a, Literal(k: Int, _)) => MinHashSigs(a, k)
        case other => throw new IllegalArgumentException(
          "minhash_sigs(arr, k): expected (array, integer literal), " +
            s"got $other")
      }),
    (FunctionIdentifier("vec_sum_long"),
      new ExpressionInfo(classOf[VecSumLong].getName, "vec_sum_long"),
      (args: Seq[Expression]) => args match {
        case Seq(a) => VecSumLong(a)
        case other => throw new IllegalArgumentException(
          s"vec_sum_long(arr): expected one array argument, got $other")
      }),
    (FunctionIdentifier("intersect_count_sorted"),
      new ExpressionInfo(classOf[IntersectCountSorted].getName,
        "intersect_count_sorted"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => IntersectCountSorted(a, b)
        case other => throw new IllegalArgumentException(
          "intersect_count_sorted(a, b): expected two sorted " +
            s"ARRAY<BIGINT> arguments, got $other")
      }),
    (FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
      (args: Seq[Expression]) => SimHashBits(args(0))),
    (FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (args: Seq[Expression]) => Shingles3(args(0))),
    (FunctionIdentifier("char_windows"),
      new ExpressionInfo(classOf[CharWindows].getName, "char_windows"),
      (args: Seq[Expression]) => args match {
        case Seq(t, Literal(len: Int, _)) => CharWindows(t, len)
        case other => throw new IllegalArgumentException(
          "char_windows(text, len): expected (string, integer literal), " +
            s"got $other")
      }),
    (FunctionIdentifier("local_components"),
      new ExpressionInfo(classOf[LocalComponents].getName,
        "local_components"),
      (args: Seq[Expression]) => LocalComponents(args(0))),
    (FunctionIdentifier("mink_sample"),
      new ExpressionInfo(classOf[MinKSample].getName, "mink_sample"),
      (args: Seq[Expression]) => args match {
        case Seq(s, Literal(k: Int, _)) => MinKSample(s, k)
        case other => throw new IllegalArgumentException(
          "mink_sample(struct, k): expected (struct, integer literal), " +
            s"got $other")
      }),
    (FunctionIdentifier("srp_band_keys"),
      new ExpressionInfo(classOf[SrpBandKeys].getName, "srp_band_keys"),
      (args: Seq[Expression]) => args match {
        case Seq(a, Literal(bands: Int, _), Literal(bits: Int, _),
            Literal(dims: Int, _)) =>
          SrpBandKeys(a, bands, bits, dims)
        case other => throw new IllegalArgumentException(
          "srp_band_keys(arr, bands, bits, dims): expected (array, 3 " +
            s"integer literals — dims is the expected vector length), " +
            s"got $other")
      }),
    (FunctionIdentifier("sum_weighted_entries"),
      new ExpressionInfo(classOf[SumWeightedEntries].getName,
        "sum_weighted_entries"),
      (args: Seq[Expression]) => args match {
        case Seq(entries, w) => SumWeightedEntries(entries, w)
        case other => throw new IllegalArgumentException(
          "sum_weighted_entries(entries, w): expected (array<struct<" +
            s"string, bigint>>, bigint), got ${other.length} arguments")
      }),
    (FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_sketch"),
      (args: Seq[Expression]) => args match {
        case Seq(h, Literal(k: Int, _)) => KmvSketch(h, k)
        case other => throw new IllegalArgumentException(
          "kmv_sketch(hash, k): expected (hash, integer literal), " +
            s"got $other")
      }),
    // Spark ships these two (they power its runtime row-level join
    // filtering) but leaves them out of the public registry; exposing
    // them via the extension point gives the engine a first-class bloom
    // semi-join reduction without any custom sketch code.
    (FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_filter_agg"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate
        args match {
          case Seq(h)       => new BloomFilterAggregate(h)
          case Seq(h, n)    => new BloomFilterAggregate(h, n)
          case Seq(h, n, b) => new BloomFilterAggregate(h, n, b)
          case other => throw new IllegalArgumentException(
            "bloom_filter_agg(xxhash64(col)[, estimatedItems[, numBits]])" +
              s": expected 1-3 arguments, got ${other.length}")
        }
      }),
    (FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bf, v) => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(bf, v)
        case other => throw new IllegalArgumentException(
          "might_contain(bloom, xxhash64(col)): expected 2 arguments, " +
            s"got ${other.length}")
      }))

  /** Idempotent runtime registration for sessions built without the
    * extensions config. Unconditional: every function is (re)registered
    * with source "built-in". Query builders should call
    * [[ensureInstalled]] instead so re-construction stays side-effect
    * free on the session.
    */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "built-in")
    }

  /** The defensive-install gate every query builder uses: run
    * [[install]] only when the session doesn't already carry OUR
    * registrations, so constructing a query is side-effect free on
    * re-entry (install itself is idempotent in effect, but re-running
    * createOrReplace on every construction mutates session state from
    * inside an otherwise pure builder, and floods the log with
    * "replaced a previously registered function" warnings).
    *
    * "Ours" = EVERY function present AND source "built-in" (what
    * install stamps) — checked per function, not via a single sentinel,
    * so a foreign same-name registration of ANY of them
    * (`spark.udf.register` stamps "scala_udf"/"java_udf") or a dropped
    * entry triggers a full re-install rather than being silently used
    * (a foreign `dot_long` would otherwise feed the cosine rescoring
    * wrong numbers with no error). The dozen registry lookups are
    * nothing against a query build. NOT checked by class:
    * createOrReplaceTempFunction records the builder LAMBDA's class
    * name, which is JVM-unique, so a class match would re-install on
    * every construction.
    *
    * Note the gate is hygiene, not a codegen-cache lever: the generated-
    * class cache is keyed on (classloader, source text), which a registry
    * write does not touch — CodegenCacheSpec's zero-recompile pins passed
    * for builders that installed unconditionally.
    */
  def ensureInstalled(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ours = functions.forall { case (id, _, _) =>
      registry.lookupFunction(id).exists(_.getSource == "built-in")
    }
    if (!ours) install(spark)
  }
}
