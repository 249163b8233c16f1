package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark lacks as builtins, composed from union + ordered
  * windows (preference (a) of the custom-operator ladder — no custom
  * strategy needed because the composition is already the optimal
  * distributed shape).
  */
object Joins {

  /** Backward as-of join: for every left row, attach the chosen columns of
    * the LATEST right row with `rightTime <= leftTime` within the same key
    * group (NULLs when no such row — left-join semantics; ties on equal
    * timestamps take the right row, matching DuckDB/pandas ASOF `>=`).
    *
    * Shape: tag + union both inputs, one hash-partition by key with an
    * in-partition sort by (time, side), then `last(value, ignoreNulls)` over
    * the running frame carries each right value forward to the left rows
    * that follow it. ONE shuffle of left+right (no range-join explosion, no
    * per-row probing); at 100 TB this is the sort-merge-shaped plan you
    * want, and AQE handles skewed keys.
    *
    * @param rightValues right-side columns to carry (renamed as given)
    */
  def asOfBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: Column, rightTime: Column,
                   rightValues: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.filterNot(keys.contains)
    val rightSchema = right.schema
    // Carry ONE struct of all right values (not one last() per column):
    // ASOF semantics attach a single matched right row, so all carried
    // columns must come from the same row and a genuine NULL in a payload
    // column must survive — per-column last(ignoreNulls) would skip it and
    // leak an older row's value in.
    val rvPairs = rightValues.toSeq
    val rvType = StructType(rvPairs.map { case (rc, out) =>
      StructField(out, rightSchema(rc).dataType)
    })
    val l = left
      .withColumn("__t", leftTime.cast("timestamp"))
      .withColumn("__side", lit(1))
      .withColumn("__rv", lit(null).cast(rvType))
    val r0 = right
      .withColumn("__t", rightTime.cast("timestamp"))
      .withColumn("__side", lit(0))
      .withColumn("__rv",
        struct(rvPairs.map { case (rc, out) => col(rc).as(out) }: _*))
    val rAligned = leftCols.foldLeft(r0) { case (df, lc) =>
      df.withColumn(lc, lit(null).cast(left.schema(lc).dataType))
    }
    val outCols = keys ++ Seq("__t", "__side", "__rv") ++ leftCols
    val u = l.select(outCols.map(col): _*)
      .unionByName(rAligned.select(outCols.map(col): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
    val unpacked = rvPairs.foldLeft(filled) { case (df, (_, out)) =>
      df.withColumn(out, col("__rv").getField(out))
    }
    unpacked.filter(col("__side") === 1).drop("__t", "__side", "__rv")
  }

  /** Interpolation join — `np.interp` as a distributed operator (SURVEY
    * J3 generalized beyond the uniform grid): for every left "probe" row
    * with coordinate `leftX`, linearly interpolate `rightY` between the
    * nearest enclosing right "knots" within the same key group; clamp to
    * the nearest knot outside the knot range (np.interp edge semantics);
    * NULL when the key has no knots at all. Probes sitting exactly on a
    * knot return that knot's y.
    *
    * Shape: ONE shuffle — tag + union both inputs, hash-partition by key,
    * in-partition sort by (x, side); the previous knot arrives via
    * `last(ignoreNulls)` over the preceding frame and the next knot via
    * `first(ignoreNulls)` over the following frame — both frames share the
    * single sort (one WindowExec), so this costs the same as the as-of
    * join, with no range-join explosion. */
  def interpolationJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                        leftX: Column, rightX: Column, rightY: Column,
                        out: String = "y_interp"): DataFrame = {
    val leftCols = left.columns.filterNot(keys.contains)
    val keyNotNull = keys.map(col(_).isNotNull).reduce(_ && _)
    // NULL-key/NULL-x probes yield NULL (an equality join never matches
    // NULL keys — Window.partitionBy would happily group them); NULL-key/
    // NULL-x knots are dropped for the same reason. Duplicate-x knots are
    // ordered by y so the pick is deterministic; callers wanting defined
    // duplicate semantics should pre-aggregate knots per (keys, x).
    val l0 = left
      .withColumn("__x", leftX.cast("double"))
      .withColumn("__side", lit(1))
      .withColumn("__knot",
        lit(null).cast("struct<kx:double,ky:double>"))
    val lNull = l0.filter(!(keyNotNull && col("__x").isNotNull))
      .withColumn(out, lit(null).cast("double"))
      .drop("__x", "__side", "__knot")
    val l = l0.filter(keyNotNull && col("__x").isNotNull)
    val r0 = right
      .withColumn("__x", rightX.cast("double"))
      .withColumn("__side", lit(0))
      .withColumn("__knot",
        struct(rightX.cast("double").as("kx"), rightY.cast("double").as("ky")))
      .filter(keyNotNull && col("__x").isNotNull)
    val rAligned = leftCols.foldLeft(r0) { case (df, lc) =>
      df.withColumn(lc, lit(null).cast(left.schema(lc).dataType))
    }
    val outCols = keys ++ Seq("__x", "__side", "__knot") ++ leftCols
    val u = l.select(outCols.map(col): _*)
      .unionByName(rAligned.select(outCols.map(col): _*))
    // knots sort before probes at equal x, so a probe ON a knot sees it as
    // its "previous" and the zero-distance lerp returns the knot's y
    // exactly; __knot.ky last in the order makes duplicate-x picks stable
    val ord = Seq(col("__x"), col("__side"), col("__knot.ky"))
    val base = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val wPrev = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val interp = u
      .withColumn("__p", last(col("__knot"), ignoreNulls = true).over(wPrev))
      .withColumn("__n", first(col("__knot"), ignoreNulls = true).over(wNext))
      .filter(col("__side") === 1)
      .withColumn(out,
        when(col("__p").isNull && col("__n").isNull, lit(null).cast("double"))
          .when(col("__p").isNull, col("__n.ky"))
          .when(col("__n").isNull, col("__p.ky"))
          .when(col("__n.kx") === col("__p.kx"), col("__p.ky"))
          .otherwise(col("__p.ky") +
            (col("__n.ky") - col("__p.ky")) *
              (col("__x") - col("__p.kx")) / (col("__n.kx") - col("__p.kx"))))
    val joined = interp.drop("__x", "__side", "__knot", "__p", "__n")
    joined.unionByName(lNull.select(joined.columns.toIndexedSeq.map(col): _*))
  }

  /** Bucketized interval (range) join: inner-join every left "point" row to
    * the right rows whose [start, end] interval contains it, within equal
    * `keys`. A plain equi-join on the keys followed by a range filter
    * multiplies per-key cardinalities (quadratic in rows per key — Spark's
    * default plan for this query); bucketizing time into `bucketSeconds`
    * cells and equi-joining on (keys, cell) bounds the fan-out to
    * intervalLength/bucketSeconds + 1 join rows per interval — the
    * standard distributed interval-join shape. Pick bucketSeconds ≈ the
    * typical interval length: longer intervals add join rows linearly,
    * never quadratically. Both sides shuffle once on (keys, cell); the
    * exact containment filter runs post-join. Point/start/end must be
    * castable to timestamp; column names must not collide across inputs. */
  def rangeJoin(points: DataFrame, intervals: DataFrame, keys: Seq[String],
                point: Column, start: Column, end: Column,
                bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    val w = bucketSeconds * 1000000L
    val p = points
      .withColumn("__p", unix_micros(point.cast("timestamp")))
      .withColumn("__cell", floor(col("__p") / w))
    val i = intervals
      .withColumn("__s", unix_micros(start.cast("timestamp")))
      .withColumn("__e", unix_micros(end.cast("timestamp")))
      .withColumn("__cell",
        explode(sequence(floor(col("__s") / w), floor(col("__e") / w))))
    p.join(i, keys :+ "__cell")
      .filter(col("__p").between(col("__s"), col("__e")))
      .drop("__cell", "__p", "__s", "__e")
  }

  /** Salted equi-join for skewed keys: a hot key sends ALL its rows to one
    * task in a plain shuffle join; salting splits each key into `salt`
    * sub-keys — the large side gets a per-row salt (deterministic:
    * row-position mod salt), the small side replicates each row across all
    * salts — so a hot key spreads over `salt` tasks at the cost of
    * replicating the SMALL side ×salt. Same rows as the plain equi-join.
    * (AQE's skew-join handles sort-merge skew automatically at runtime;
    * salting remains the explicit tool when AQE can't split — e.g.
    * aggregate-below-join shapes or deliberate partitioning reuse.) */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner"): DataFrame = {
    require(salt > 0, "salt must be positive")
    // right/full outer would emit one null-padded row PER SALT for an
    // unmatched small-side key (the explode replicates it); only join
    // types that never emit unmatched small-side rows are salt-safe.
    val safe = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti", "cross")
    require(safe.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin: joinType '$joinType' would duplicate unmatched small-side rows x$salt")
    val l = large.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(salt.toLong)).cast("int"))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(s, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Gap-based sessionization: assign a session id per key that increments
    * whenever the time since the previous event exceeds `gapSeconds`.
    * One hash-partition + in-partition sort; session ids are 1-based per
    * key in time order. */
  def sessionize(df: DataFrame, keys: Seq[String], time: Column,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(time)
    val newSession = when(
      unix_micros(time) - unix_micros(lag(time, 1).over(w)) > gapSeconds * 1000000L,
      1).otherwise(0)
    val firstRow = when(lag(time, 1).over(w).isNull, 1).otherwise(0)
    df.withColumn("session_id",
      sum(greatest(newSession, firstRow))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
  }
}
