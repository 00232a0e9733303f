package graft

import graft.expressions.{CapList, DotProduct, DotProductRewrite, DotRange, HammingDistance, KMin, KllSketch, KmvSketch, L2Range, UnicodeNormalize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions so they are callable from SQL and via
  * `call_function(...)` from the Column API.
  *
  * Activate with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * (done by [[Sessions.builder]]) — the idiomatic injection point for
  * third-party Catalyst extensions; works identically on a real cluster
  * via the same conf.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotProductRewrite)
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot_range"),
      new ExpressionInfo(classOf[DotRange].getName, "graft_dot_range"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "graft_dot_range takes (a, b, aOff, bOff, len)")
        DotRange(children(0), children(1), children(2), children(3),
          children(4))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_l2_range"),
      new ExpressionInfo(classOf[L2Range].getName, "graft_l2_range"),
      (children: Seq[Expression]) => {
        require(children.length == 5,
          "graft_l2_range takes (a, b, aOff, bOff, len)")
        L2Range(children(0), children(1), children(2), children(3),
          children(4))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_normalize takes (str, 'NFC'|'NFD'|'NFKC'|'NFKD')")
        val form = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_normalize form must be a string literal, got $other")
        }
        UnicodeNormalize(children.head, form)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hamming"),
      new ExpressionInfo(classOf[HammingDistance].getName, "graft_hamming"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_hamming takes (a, b)")
        HammingDistance(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[KmvSketch].getName, "graft_kmv"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_kmv takes (hash_col, k)")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmv k must be an integer literal, got $other")
        }
        KmvSketch(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmin"),
      new ExpressionInfo(classOf[KMin].getName, "graft_kmin"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_kmin takes (col, k)")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmin k must be an integer literal, got $other")
        }
        KMin(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_caplist"),
      new ExpressionInfo(classOf[CapList].getName, null, "graft_caplist",
        "_FUNC_(col, cap) - Collects the group's non-null values of any " +
          "type, saturating at cap + 1 elements (size > cap marks a group " +
          "over the cap). Only size and set views of the result are " +
          "deterministic: element order, and which cap + 1 values a " +
          "saturated array keeps, depend on partition scheduling.",
        "", "", "", "", "", "", ""),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_caplist takes (col, cap)")
        val cap = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_caplist cap must be an integer literal, got $other")
        }
        CapList(children.head, cap)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kll"),
      new ExpressionInfo(classOf[KllSketch].getName, "graft_kll"),
      (children: Seq[Expression]) => {
        require(children.length >= 3,
          "graft_kll takes (double_col, k, p1, p2, ...)")
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_kll k must be an integer literal, got $other")
        }
        // accept every numeric-literal spelling: SQL's bare 0.5 parses
        // as DECIMAL (not double), and 0/1 as integers — rejecting
        // those would force users to write 0.5D for no semantic gain
        val probs = children.drop(2).map {
          case l: org.apache.spark.sql.catalyst.expressions.Literal
              if l.value != null =>
            l.value match {
              case d: java.lang.Double => d.doubleValue()
              case f: java.lang.Float => f.doubleValue()
              case d: org.apache.spark.sql.types.Decimal => d.toDouble
              case i: java.lang.Integer => i.doubleValue()
              case i: java.lang.Long => i.doubleValue()
              case other => throw new IllegalArgumentException(
                s"graft_kll probabilities must be numeric literals, got $other")
            }
          case other => throw new IllegalArgumentException(
            s"graft_kll probabilities must be numeric literals, got $other")
        }
        KllSketch(children.head, k, probs)
      }))
    // Spark SHIPS a codegen'd Bloom filter aggregate + probe pair
    // (catalyst's BloomFilterAggregate / BloomFilterMightContain,
    // the machinery behind AQE's InjectRuntimeFilter) but exposes no
    // SQL surface for it. Register that battle-tested implementation
    // rather than writing a parallel one: build once over the small
    // side, broadcast the binary sketch, pre-filter the big side
    // map-side before an expensive join (no false negatives, so an
    // exact verify after the probe keeps results exact).
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "graft_bloom_agg takes (long_col, est_items, num_bits)")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2)).toAggregateExpression()
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "graft_might_contain takes (bloom_binary, long_col)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }))
  }
}
