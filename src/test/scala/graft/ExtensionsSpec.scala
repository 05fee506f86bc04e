package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Production-wiring proof for `spark.sql.extensions=graft.GraftExtensions`:
  * applies the extension object to a fresh SparkSessionExtensions, drains
  * the injected function builders into a registry, and evaluates every
  * built expression — so an arity typo or wrong expression class in the
  * injection lambdas (which the self-registration path would mask) fails
  * here, not on a customer cluster. */
class ExtensionsSpec extends SparkSpec {

  private def registry = {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = new SimpleFunctionRegistry
    org.apache.spark.sql.GraftExtensionsAccess.registerFunctions(ext, reg)
    reg
  }

  private def fn(reg: SimpleFunctionRegistry, name: String, args: Expression*) =
    reg.lookupFunction(FunctionIdentifier(name), args.toSeq)

  test("the test session is GraftSession.local(4): UTC, a 4096-entry " +
      "codegen cache and 4 shuffle partitions") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("extensions inject the COMPLETE native-function list") {
    // the production path must expose exactly what self-registration
    // exposes; the two lists drifted once (3 of 7 functions missing
    // from the injection) — both now iterate GraftFunctions.all, and
    // this asserts the registry ends up with every name
    val reg = registry
    val missing = functions.GraftFunctions.all.map(_._1)
      .filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"functions missing from extensions wiring: $missing")
  }

  test("injected functions resolve and evaluate correctly") {
    val reg = registry
    // dot_long
    val arr = Literal.create(Array(2L, 3L), ArrayType(LongType))
    assert(fn(reg, "dot_long", arr, arr).eval(null) == 13L)
    // tokenize_pos is a Generator — build succeeds with one arg
    val toks = Literal.create(
      new GenericArrayData(Array(UTF8String.fromString("a"))), ArrayType(StringType))
    assert(fn(reg, "tokenize_pos", toks) != null)
    // bloom_contains round-trip through a real BloomGramAgg build
    val agg = new functions.BloomGramAgg(1 << 10)
    val bits = Seq(7L, 42L).foldLeft(agg.zero)(agg.reduce)
    val bitsLit = Literal.create(bits, ArrayType(LongType))
    assert(fn(reg, "bloom_contains", bitsLit, Literal.create(42L, LongType))
      .eval(null) == true)
    // cm_estimate over a real CountMinAgg build
    val cm = new functions.CountMinAgg(64)
    val sketch = Seq(5L, 5L, 9L).foldLeft(cm.zero)(cm.reduce)
    val est = fn(reg, "cm_estimate",
      Literal.create(sketch, ArrayType(LongType)), Literal.create(5L, LongType))
      .eval(null).asInstanceOf[Long]
    assert(est >= 2L)
    // the three functions the first wiring missed
    val sorted = Literal.create(
      new GenericArrayData(Array("a", "b").map(UTF8String.fromString)),
      ArrayType(StringType))
    assert(fn(reg, "inter_count_sorted", sorted, sorted).eval(null) == 2L)
    assert(fn(reg, "simhash60",
      Literal.create(Array(5L), ArrayType(LongType))).eval(null) == 5L)
    assert(fn(reg, "minhash32", sorted).eval(null) != null)
  }

  test("optimizer rule and planner strategy are injected") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.GraftExtensionsAccess.optimizerRules(ext, spark)
    assert(rules.exists(_.isInstanceOf[graft.plans.RewriteHofDotProduct.type]),
      "RewriteHofDotProduct missing from injected optimizer rules")
    val strategies = org.apache.spark.sql.GraftExtensionsAccess.plannerStrategies(ext, spark)
    assert(strategies.exists(_.isInstanceOf[graft.plans.AsOfJoinStrategy.type]),
      "AsOfJoinStrategy missing from injected planner strategies")
  }
}
