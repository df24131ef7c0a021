package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-match) join — the canonical time-series operator
  * Spark lacks as a primitive. Composed from existing operators per the
  * preference order (no custom plan needed): tag both sides, union,
  * single window pass carrying the last right-side match forward.
  *
  * For each left row: the right row with the same key and the greatest
  * `rightTs <= leftTs` (right side must be unique per (key, ts) —
  * pre-aggregate if not). Left rows with no prior right row get null.
  *
  * Scale shape: ONE shuffle of |L|+|R| rows on the key (the union is
  * shuffle-free), then a linear window scan per key partition — strictly
  * better than the naive range-join (|L|×|R| per key) and equal to the
  * dedicated MERGE_ASOF implementations elsewhere. Skewed keys: salt the
  * window key upstream or rely on AQE.
  */
object AsOf {

  /** @param left       left (probe) side
    * @param right      right (reference) side, unique per (key, ts)
    * @param key        equi-join key column name (same name both sides)
    * @param leftTs     left ordering column (numeric or timestamp)
    * @param rightTs    right ordering column, comparable with leftTs
    * @param rightCols  right columns to carry (must not collide with left)
    * @param tolerance  optional max match age in ordering-column units
    *   (pandas merge_asof's `tolerance`): a match older than
    *   `leftTs − tolerance` resolves to null instead — "most recent
    *   purchase, but only within the last hour". Requires a numeric
    *   (typically epoch-integer) ordering column. Zero extra shuffles:
    *   the matched right ts already rides the window pass.
    */
  def join(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String,
           rightCols: Seq[String],
           tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    // Order in a lossless common type: a double cast would silently lose
    // precision for int64 timestamps beyond 2^53 (epoch nanos — the events
    // table's native storage), mis-resolving as-of matches near the
    // boundary. Integral×integral orders as long, identical types as-is
    // (timestamp, date, decimal included); only genuinely mixed fractional
    // input falls back to double.
    val tsType = orderingType(left.schema(leftTs).dataType, right.schema(rightTs).dataType)
    tolerance.foreach { t =>
      require(t >= 0, s"tolerance must be non-negative: $t")
      require(tsType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"tolerance needs a numeric ordering column, got ${tsType.catalogString}")
    }
    // The matched right row rides the window as ONE struct (its ts +
    // every carried column), not per-column last(): a per-column carry
    // would back-fill a matched row's NULL field from an OLDER right row
    // — wrong as-of semantics (the match's value is null) and wrong
    // tolerance gating (the value's age would exceed the gate even when
    // the matched ts passes it). A struct from a right row is never
    // null, so last(ignoreNulls) over structs IS "the matched row".
    val rStructType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__rts", tsType) +:
        rightCols.map(c => org.apache.spark.sql.types.StructField(
          c, right.schema(c).dataType, nullable = true)))
    // tag=0 sorts right-side rows before left rows at equal ts, so a left
    // row at exactly rightTs sees that right row (inclusive as-of).
    val l2 = left.select(
      (leftCols.map(col) ++ Seq(col(key).as("__k"), col(leftTs).cast(tsType).as("__ts"),
        lit(1).as("__tag"), lit(null).cast(rStructType).as("__r"))): _*)
    val r2 = right.select(
      (leftCols.map(c => lit(null).as(c)) ++ Seq(col(key).as("__k"),
        col(rightTs).cast(tsType).as("__ts"), lit(0).as("__tag"),
        struct((col(rightTs).cast(tsType).as("__rts") +: rightCols.map(col)): _*)
          .as("__r"))): _*)
    val unioned = l2.unionByName(r2)
    val w = Window.partitionBy(col("__k")).orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = last(col("__r"), ignoreNulls = true).over(w)
    // The gate compares in a WIDENED type: subtracting in a narrow
    // integral tsType could overflow, and casting a Long tolerance into a
    // 32-bit (or smaller) tsType would silently wrap/null under non-ANSI
    // cast and mis-evaluate the gate. Integral → long (lossless), decimal
    // stays decimal (Spark widens the comparison), fractional → double;
    // the long tolerance literal is left uncast so comparison coercion
    // widens BOTH sides to the common type.
    val wide: org.apache.spark.sql.types.DataType = tsType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.types.LongType
      case d: org.apache.spark.sql.types.DecimalType => d
      case _ => org.apache.spark.sql.types.DoubleType
    }
    val inTol = tolerance
      .map(t => col("__ts").cast(wide) - col("__r").getField("__rts").cast(wide) <= lit(t))
      .getOrElse(lit(true))
    unioned.withColumn("__r", matched)
      .where(col("__tag") === 1)
      .select((leftCols.map(col) ++ rightCols.map(c =>
        when(col("__r").isNotNull && inTol, col("__r").getField(c))
          .otherwise(lit(null)).as(s"asof_$c"))): _*)
  }

  /** Broadcast as-of join — same semantics as [[join]], zero shuffles.
    *
    * Use when the right (reference) side is broadcast-sized: the right
    * side is collected into a key → ts-sorted index, broadcast to every
    * executor, and each left row resolves its match with a local binary
    * search (O(log |R per key|)) — the as-of analogue of a broadcast hash
    * join. The left side is never shuffled or sorted. Backed by the
    * custom Catalyst operator [[graft.plans.AsOfJoin]] →
    * [[graft.plans.BroadcastAsOfJoinExec]] (planner strategy
    * [[graft.plans.GraftStrategies]], installed by both session paths:
    * [[graft.GraftSession.registerOptimizations]] and
    * [[graft.GraftExtensions]]).
    *
    * Ordering columns must be integral/timestamp/date (lossless long
    * comparison); key columns must have identical types on both sides.
    */
  def broadcastJoin(left: DataFrame, right: DataFrame, key: String,
                    leftTs: String, rightTs: String,
                    rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val spark = left.sparkSession
    // Pre-project the right side so only (key, ts, carried) columns are
    // scanned and collected — column pruning does not cross a custom node.
    val rightMin = right.select((Seq(key, rightTs) ++ rightCols).distinct.map(col): _*)
    val lPlan = PlanBridge.analyzed(left)
    val rPlan0 = PlanBridge.analyzed(rightMin)
    // Self-join safety: when both sides derive from the same DataFrame,
    // their plans share attribute exprIds. The analyzer's
    // DeduplicateRelations re-ids the right subtree's relations but CANNOT
    // remap this node's key/ts fields — "user_id#2" on the right is
    // indistinguishable from "user_id#2" on the left. Re-aliasing the
    // right output with fresh exprIds here makes the children disjoint, so
    // every reference held by the node stays unambiguous through analysis.
    val rPlan =
      if (rPlan0.outputSet.intersect(lPlan.outputSet).isEmpty) rPlan0
      else {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
      }
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    val lKey = attr(lPlan, key); val rKey = attr(rPlan, key)
    require(lKey.dataType == rKey.dataType,
      s"as-of key types differ: ${lKey.dataType.catalogString} vs ${rKey.dataType.catalogString}")
    val carry = rightCols.map(c => attr(rPlan, c))
    val outAttrs = carry.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)())
    PlanBridge.ofRows(spark, graft.plans.AsOfJoin(
      lPlan, rPlan, lKey, rKey, attr(lPlan, leftTs), attr(rPlan, rightTs),
      carry, outAttrs))
  }

  private def orderingType(l: org.apache.spark.sql.types.DataType,
                           r: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (l, r) match {
      case (a, b) if a == b => a
      case (ByteType | ShortType | IntegerType | LongType,
            ByteType | ShortType | IntegerType | LongType) => LongType
      case (a: DecimalType, b: DecimalType) =>
        val scale = math.max(a.scale, b.scale)
        val intDigits = math.max(a.precision - a.scale, b.precision - b.scale)
        DecimalType(math.min(DecimalType.MAX_PRECISION, intDigits + scale), scale)
      case (_: NumericType, _: NumericType) => DoubleType
      case (a, b) => throw new IllegalArgumentException(
        s"as-of ordering columns are not comparable: ${a.catalogString} vs ${b.catalogString}")
    }
  }
}
