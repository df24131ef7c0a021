package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans._

/** graft's SQL surface, declared once: the native functions callable from
  * SQL text, the optimizer rules and the planner strategies. Both deploy
  * paths read this table — a session bootstrapped through
  * [[GraftSession.registerFunctions]] / [[GraftSession.registerOptimizations]]
  * and a cluster configured with `spark.sql.extensions=graft.GraftExtensions`
  * — so neither can expose a function or plan a node the other lacks.
  *
  * interleaveByWeight / heavyHitters stay DSL-only by design: each is a
  * multi-stage PLAN (two-level bucket-rank decomposition; two-pass
  * Misra–Gries sketch + exact recount), not a scalar expression — a SQL
  * scalar registration would have to hide stages with the wrong scale
  * shape. The blessed SQL route is the DSL entry point over a registered
  * view (see README "SQL surface"). StopwordProfileArgmax still carries
  * Seq[Seq[String]] profile state — exposed through the Scala DSL only.
  */
object SqlSurface {

  /** One SQL function: its name, the usage line `DESCRIBE FUNCTION`
    * prints, and the expression builder over the call's arguments. The
    * session is the one the function is registered in (the active
    * session on the extension path); only builders that convert a DSL
    * Column need it.
    */
  final case class SqlFunction(name: String, usage: String,
                               build: (SparkSession, Seq[Expression]) => Expression) {
    def info: ExpressionInfo = new ExpressionInfo("graft", null, name, usage, "")
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("simhash64",
      "simhash64(tokens) - 64-bit SimHash of a string array",
      (_, a) => SimHash64(a.head)),
    SqlFunction("ngram_minhash",
      "ngram_minhash(tokens, n, k) - k-element MinHash signature over word n-grams",
      (_, a) => NgramMinHash(a(0), exprInt(a(1)), exprInt(a(2)))),
    SqlFunction("ngram_hashes",
      "ngram_hashes(tokens, n) - distinct 64-bit word n-gram hashes",
      (_, a) => NgramHashes(a(0), exprInt(a(1)))),
    SqlFunction("ngram_hashes_all",
      "ngram_hashes_all(tokens, n) - word n-gram hashes with multiplicity",
      (_, a) => NgramHashesAll(a(0), exprInt(a(1)))),
    SqlFunction("lsh_bucket",
      "lsh_bucket(vec, nBits) - random-hyperplane LSH bucket of a float vector",
      (_, a) => HyperplaneLshBucket(a(0), exprInt(a(1)), 42L)),
    SqlFunction("minhash_signature",
      "minhash_signature(shingles, k) - k-element MinHash signature of a string array",
      (_, a) => MinHashSignature(a(0), exprInt(a(1)))),
    SqlFunction("winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - winnowing fingerprint hashes (rolling k-gram hash, w-window minima)",
      (_, a) => WinnowFingerprints(a(0), exprInt(a(1)), exprInt(a(2)))),
    // the content-defined anchor selectors behind substring dedup + span
    // decontamination
    SqlFunction("md5_prefix_anchors",
      "md5_prefix_anchors(text, k, byteCutoff) - k-gram start positions whose md5 first byte is below byteCutoff",
      (_, a) => Md5PrefixAnchors(a(0), exprInt(a(1)), exprInt(a(2)))),
    SqlFunction("xx_mod_anchors",
      "xx_mod_anchors(text, k, density) - k-gram start positions whose xxhash64 is 0 mod density",
      (_, a) => XxModAnchors(a(0), exprInt(a(1)), exprInt(a(2)))),
    // chain in rank order to encode against a trained merge table
    SqlFunction("bpe_merge_pair",
      "bpe_merge_pair(tokens, left, right) - one greedy BPE merge pass",
      (_, a) => BpeMergePair(a(0), exprString(a(1)), exprString(a(2)))),
    // events as array<struct<us, t>>, steps as a foldable string-array
    // literal
    SqlFunction("funnel_reach",
      "funnel_reach(events, array(steps...), windowUs) - deepest funnel step a user reaches in the window",
      (_, a) => FunnelReach(a(0), exprStringArray(a(1)).toIndexedSeq, exprLong(a(2)))),
    // the vocabulary rides as two parallel foldable array literals
    // (plan-time state in the DSL path too)
    SqlFunction("unigram_viterbi",
      "unigram_viterbi(word, array(pieces...), array(logps...), maxPieceLen) - unigram-LM segmentation",
      (_, a) => UnigramViterbi(a(0), exprStringArray(a(1)).toIndexedSeq,
        exprDoubleArray(a(2)).toIndexedSeq, exprInt(a(3)))),
    // centroids as a foldable array literal (plan-time literals in the
    // DSL path too, so SQL loses nothing)
    SqlFunction("argmax_dot",
      "argmax_dot(vec, flat_centroids, dim) - index of the centroid with the largest dot product",
      (_, a) => ArgMaxDot(a(0), exprDoubleArray(a(1)), exprInt(a(2)))),
    SqlFunction("argmax_dot_exact",
      "argmax_dot_exact(vec, flat_centroids, dim) - argmax_dot with the exact-decimal tiebreak of k-means",
      (_, a) => ArgMaxDotExact(a(0), exprDoubleArray(a(1)), exprInt(a(2)))),
    // entropy = ln(n) - s/n in plain SQL
    SqlFunction("char_entropy_stats",
      "char_entropy_stats(text) - struct(n, s): the map-side census behind Corpus.charEntropy",
      (_, a) => CharEntropyStats(a.head)),
    SqlFunction("script_profile",
      "script_profile(text) - struct of Unicode-block counts (the multilingual router)",
      (_, a) => ScriptProfile(a.head)),
    SqlFunction("dot_f",
      "dot_f(a, b) - single-pass float-array dot product",
      (_, a) => DotProductF(a(0), a(1))),
    // element i counts phrase i, replace()-count semantics
    SqlFunction("multi_match_counts",
      "multi_match_counts(text, array(phrases...)) - Aho-Corasick per-phrase match counts",
      (_, a) => MultiMatchCounts(a(0), exprStringArray(a(1)).toIndexedSeq)),
    SqlFunction("unicode_normalize",
      "unicode_normalize(text, 'NFC'|'NFD'|'NFKC'|'NFKD') - Unicode normalization",
      (_, a) => UnicodeNormalize(a(0), exprString(a(1)))),
    // Weights ride as a foldable map literal; the expression tree is built
    // by the SAME code as the DSL, so SQL and DSL results are identical by
    // construction.
    SqlFunction("mixture_copy_ids",
      "mixture_copy_ids(stratum, key, map('en', 2.2, ...), defaultWeight) - copy ids a row contributes to a DoReMi mixture resample",
      (spark, a) => {
        import org.apache.spark.sql.graftbridge.ColumnBridge
        ColumnBridge.expressionEager(spark,
          graft.functions.Corpus.mixtureCopyIds(
            ColumnBridge.column(a(0)), ColumnBridge.column(a(1)),
            exprStringDoubleMap(a(2)), exprDouble(a(3))))
      }),
  )

  /** Optimizer rules: the binned range-join rewrite (opt-in via
    * `spark.graft.rangeJoin.binWidth`; a no-op otherwise).
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(RangeJoinRewrite)

  /** Planner strategies: the broadcast as-of join
    * (logical AsOfJoin -> BroadcastAsOfJoinExec).
    */
  val strategies: Seq[SparkStrategy] = Seq(GraftStrategies)

  // ----- foldable-argument evaluators -----

  private def exprInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }

  private def exprLong(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"expected long literal, got $other")
  }

  private def toDouble(v: Any, what: String): Double = v match {
    case d: java.lang.Double => d.doubleValue
    case f: java.lang.Float => f.doubleValue
    case i: java.lang.Integer => i.doubleValue
    case l: java.lang.Long => l.doubleValue
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(s"expected $what, got $other")
  }

  private def exprDouble(e: Expression): Double =
    toDouble(e.eval(null), "numeric literal")

  private def exprString(e: Expression): String = e.eval(null) match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  /** Evaluate a foldable string-array argument (SQL `array('a','b')`). */
  private def exprStringArray(e: Expression): Array[String] = {
    require(e.foldable, s"expected a foldable array literal, got $e")
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(org.apache.spark.sql.types.StringType).map {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"expected string array element, got $other")
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
  }

  /** Evaluate a foldable numeric-array argument (SQL `array(…)` literal)
    * to the flat centroid table [[graft.plans.ArgMaxDot]] expects.
    */
  private def exprDoubleArray(e: Expression): Array[Double] = {
    require(e.foldable, s"expected a foldable array literal, got $e")
    val elemType = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(t, _) => t
      case other => throw new IllegalArgumentException(
        s"expected array literal, got ${other.catalogString}")
    }
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toObjectArray(elemType).map(toDouble(_, "numeric array element"))
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
  }

  /** Evaluate a foldable `map(string, numeric)` literal (SQL `map(…)`). */
  private def exprStringDoubleMap(e: Expression): Map[String, Double] = {
    require(e.foldable, s"expected a foldable map literal, got $e")
    val valueType = e.dataType match {
      case org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType, vt, _) => vt
      case other => throw new IllegalArgumentException(
        s"expected map<string, numeric> literal, got ${other.catalogString}")
    }
    e.eval(null) match {
      case m: org.apache.spark.sql.catalyst.util.MapData =>
        val keys = m.keyArray.toObjectArray(org.apache.spark.sql.types.StringType)
        val vals = m.valueArray.toObjectArray(valueType)
        keys.zip(vals).map { case (k, v) =>
          k.toString -> toDouble(v, "numeric map value")
        }.toMap
      case other => throw new IllegalArgumentException(
        s"expected map literal, got $other")
    }
  }
}
