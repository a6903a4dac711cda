package graft.verify

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TableSource

/** Post-copy verification — the Spark-native `compareDb`
  * (reference: cmd/compare.go:102-132). The reference pairs per-table
  * `count(*)` results driver-side; here both sides become DataFrames and
  * the pairing is a full-outer join, which naturally captures
  * missing-on-destination tables (DestIsExist=NO, cmd/compare.go:119-123).
  *
  * Beyond the reference (which only compares cardinality), `checksum`
  * compares per-column content fingerprints: sum of a 64-bit column hash
  * is order-insensitive and distributes as one pass over the data —
  * no shuffle beyond the final 1-row aggregate, so it holds at 100 TB.
  */
object Comparator {

  /** One row per table: src_rows, dest_rows, dest_exists, is_ok.
    *
    * Each side counts through [[TableSource.rowCount]]: a JDBC source or
    * destination answers one pushed `select count(*)` (the reference's
    * own count, cmd/compare.go:112-123) with no Spark job; any other
    * source runs a Spark `count()`. Tables fan out across a bounded
    * driver-side thread pool (the reference's `maxParallel` goroutine
    * fan-out, cmd/compare.go:60-68), so hundreds of small tables don't
    * serialize behind each other on the driver.
    *
    * `timeout` bounds the WHOLE comparison from call start: a table
    * whose counts haven't landed by the deadline yields a
    * `dest_is_exist=TIMEOUT, is_ok=NO` failure row (picked up by
    * [[failures]]) — one hung connection degrades to one failure row
    * instead of hanging verification forever (the reference at least
    * dies with the process; an `Await(Duration.Inf)` here did not).
    * Both count kinds stop near the deadline: a pushed count runs with
    * the time left as its statement's query timeout, a Spark count runs
    * under a job group per table that the deadline cancels, and the
    * deadline interrupts the table's pool thread either way (Derby, for
    * one, checks the query timeout between rows, not in a lock wait).
    */
  def compareCounts(
      spark: SparkSession,
      src: TableSource,
      dest: TableSource,
      tables: Seq[String],
      maxParallel: Int = 8,
      timeout: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.FiniteDuration(30, "min")
  ): DataFrame = {
    import spark.implicits._
    import java.util.concurrent.{Callable, ExecutionException, TimeUnit, TimeoutException}
    val destTables = dest.tableNames(spark).map(_.toLowerCase).toSet
    // daemon threads: a table whose scan never returns keeps its thread
    // hung past our deadline — it must not also pin the JVM open
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxParallel, tables.size max 1)),
      (r: Runnable) => {
        val th = new Thread(r, "graft-compare")
        th.setDaemon(true)
        th
      })
    def tag(t: String) = s"graft-compare-$t"
    // side-channel for facts that landed before a table's deadline: a
    // timed-out row still reports its real source count when the source
    // scan finished and only the destination hung
    val srcCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val deadline = System.nanoTime() + timeout.toNanos
    def left() = scala.concurrent.duration.Duration.fromNanos(
      math.max(0L, deadline - System.nanoTime()))
    val rows =
      try {
        val futs = tables.map { t =>
          t -> pool.submit(new Callable[(String, Long, Option[Long], String)] {
            def call() = {
              // job group per table, from the pool thread (local
              // properties are thread-inherited): a timeout can then
              // cancel THIS table's running jobs without touching the
              // others sharing the session
              spark.sparkContext.setJobGroup(tag(t), s"compareCounts $t",
                interruptOnCancel = true)
              try {
                val srcN = src.rowCount(spark, t, left())
                srcCounts.put(t, srcN)
                val exists = destTables.contains(t.toLowerCase)
                val destN = if (exists) Some(dest.rowCount(spark, t, left())) else None
                (t, srcN, destN, if (exists) "YES" else "NO")
              } finally spark.sparkContext.clearJobGroup()
            }
          })
        }
        futs.map { case (t, f) =>
          try f.get(left().toNanos, TimeUnit.NANOSECONDS)
          catch {
            case e: ExecutionException => throw e.getCause
            case _: TimeoutException =>
              // the interrupt ends a pushed count the database keeps
              // waiting on (a lock wait outlasts a query timeout)
              f.cancel(true)
              spark.sparkContext.cancelJobGroup(tag(t))
              val partialSrc = Option(srcCounts.get(t)).fold(-1L)(_.longValue)
              (t, partialSrc, Option.empty[Long], "TIMEOUT")
          }
        }
      } finally pool.shutdown()
    rows
      .toDF("table_name", "src_rows", "dest_rows_opt", "dest_state")
      .select(
        $"table_name",
        $"src_rows",
        coalesce($"dest_rows_opt", lit(-1L)).as("dest_rows"),
        $"dest_state".as("dest_is_exist"),
        when($"dest_state" === "YES" && $"dest_rows_opt" === $"src_rows",
          lit("YES"))
          .otherwise(lit("NO"))
          .as("is_ok")
      )
  }

  /** Failures-only view (reference: compare.go:78-83). */
  def failures(report: DataFrame): DataFrame =
    report.filter(col("is_ok") === "NO")

  /** Order-insensitive per-column fingerprint of a DataFrame: for every
    * column, sum of xxhash64(value) plus null count. Equal fingerprints
    * on src and dest ⇒ content match with overwhelming probability.
    * One job, one row out — scales linearly, shuffle-free until the
    * single final reduce.
    */
  def checksum(df: DataFrame): DataFrame = {
    // hashes summed in unbounded decimal: a long sum overflows under
    // ANSI mode (Spark 4 default) after ~2^32 rows of 64-bit hashes
    val aggs = df.schema.fields.flatMap { f =>
      Seq(
        sum(xxhash64(col(f.name).cast("string"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as(s"${f.name}__hash"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls")
      )
    }
    df.agg(count(lit(1)).as("rows"), aggs.toIndexedSeq: _*)
  }

  /** Approximate per-column profile for 100 TB-scale verification where
    * even exact checksums are too strict (e.g. after a lossy type
    * transpile): HLL++ distinct-count sketch, null count, min and max
    * per column. Mergeable sketches, one pass, one row out; `rsd`
    * trades sketch memory for precision (Spark default 5%).
    */
  def columnProfile(df: DataFrame, rsd: Double = 0.05): DataFrame = {
    val aggs = df.schema.fields.flatMap { f =>
      Seq(
        approx_count_distinct(col(f.name), rsd).as(s"${f.name}__ndv"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        min(col(f.name)).cast("string").as(s"${f.name}__min"),
        max(col(f.name)).cast("string").as(s"${f.name}__max")
      )
    }
    df.agg(count(lit(1)).as("rows"), aggs.toIndexedSeq: _*)
  }

  /** Exact per-column profile in long format — one row per column with
    * `(column_name, n_rows, n_nulls, n_distinct)` — the
    * value-distribution half of migration verification: row counts
    * match ([[compareCounts]]) and checksums match ([[checksum]]) can
    * both hold while a lossy type transpile silently collapsed
    * cardinality (e.g. a precision-truncated NUMBER); distinct counts
    * per column catch that class. Exactness costs the standard
    * multi-distinct plan: Catalyst Expands the scan |columns|-fold and
    * partial-aggregates each replica before the single shuffle — exact
    * and parallel, but |columns|× the scan traffic, so at 100 TB this
    * is the small-table / final-audit tool and [[columnProfile]]
    * (mergeable HLL sketches, one pass, no Expand) is the fleet-wide
    * screen. Long format (vs [[columnProfile]]'s one wide row) so the
    * src/dest comparison is an ordinary join on `column_name`, not a
    * schema-dependent column walk.
    */
  def exactColumnProfile(df: DataFrame): DataFrame = {
    val aggs = df.schema.fields.flatMap { f =>
      Seq(
        // coalesce: sum over ZERO rows is NULL, which would make an
        // empty-vs-empty profileDiff read is_ok=NO on identical sides
        // (and surface n_nulls as NULL instead of 0)
        coalesce(sum(when(col(f.name).isNull, 1L).otherwise(0L)), lit(0L))
          .as(s"${f.name}__nulls"),
        count_distinct(col(f.name)).as(s"${f.name}__ndv"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs.toIndexedSeq: _*)
    val rows = df.schema.fields.map { f =>
      struct(
        lit(f.name).as("column_name"),
        col("__rows").as("n_rows"),
        col(s"${f.name}__nulls").as("n_nulls"),
        col(s"${f.name}__ndv").as("n_distinct"))
    }
    wide
      .select(explode(array(rows.toIndexedSeq: _*)).as("__p"))
      .select(col("__p.column_name"), col("__p.n_rows"),
        col("__p.n_nulls"), col("__p.n_distinct"))
  }

  /** Source-vs-destination profile comparison: both sides'
    * [[exactColumnProfile]] long formats full-outer-joined on
    * `column_name` — so a column missing from either side surfaces as
    * a row (the same shape [[compareCounts]] uses for missing tables)
    * — with a per-column `is_ok` verdict. This is the cardinality leg
    * of post-migration verification: counts and checksums can both
    * pass while a lossy transpile collapses distincts; nulls/distincts
    * diverging per column names the culprit directly.
    */
  def profileDiff(src: DataFrame, dest: DataFrame): DataFrame = {
    def side(df: DataFrame, tag: String) =
      exactColumnProfile(df).select(
        col("column_name"),
        col("n_rows").as(s"${tag}_rows"),
        col("n_nulls").as(s"${tag}_nulls"),
        col("n_distinct").as(s"${tag}_distinct"))
    side(src, "src")
      .join(side(dest, "dest"), Seq("column_name"), "full_outer")
      .withColumn("is_ok",
        when(
          col("src_rows") === col("dest_rows") &&
            col("src_nulls") === col("dest_nulls") &&
            col("src_distinct") === col("dest_distinct"),
          lit("YES")).otherwise(lit("NO")))
      .orderBy("column_name")
  }

  /** Engine-portable order-insensitive column checksum — the
    * exact-oracle twin of [[checksum]], whose xxhash64 kernel is
    * Spark-specific. Every value normalizes to an exact integer —
    * integral types as-is, strings via the mod-1e9+7 Karp–Rabin fold
    * over the HEX EXPANSION of their raw UTF-8 bytes (no case or
    * punctuation normalization — a verification fingerprint must see
    * every byte — and hex is ASCII on every engine, so the fold is
    * byte-exact for all Unicode), timestamps as epoch
    * microseconds, doubles quantized to fixed-point cents (the same
    * double from the same storage quantizes identically in any IEEE
    * engine) — then Knuth-mixes and sums per column. Nulls contribute 0
    * to the sum and 1 to the column's null count, so a null/zero swap
    * still flips the fingerprint pair.
    *
    * The mix double-reduces before multiplying —
    * `((v mod 2^31)·2654435761) mod 2^32` — so the product stays under
    * 2^62 for ANY input (epoch-micros included): exact in 64-bit
    * integer arithmetic on every engine, no unbounded-decimal needed
    * until the final sum.
    *
    * Scale shape: identical to [[checksum]] — one linear pass, one-row
    * reduce, shuffle-free. Use [[checksum]] for throughput inside
    * Spark; use this when the destination engine must recompute the
    * same fingerprint over its own copy of the data.
    */
  def portableChecksum(df: DataFrame): DataFrame = {
    val aggs = df.schema.fields.flatMap(f => checksumAggs(f.name, f.dataType))
    df.agg(count(lit(1)).as("rows"), aggs.toIndexedSeq: _*)
  }

  /** The (`<col>__sum`, `<col>__nulls`) aggregate pair of
    * [[portableChecksum]], exposed so shard-level manifests
    * ([[graft.operators.Corpus.shardManifest]]) aggregate the SAME
    * fingerprint per group — sums are additive, so shard manifests
    * merge to the whole-table checksum by plain addition.
    */
  private[graft] def checksumAggs(
      name: String,
      dt: org.apache.spark.sql.types.DataType): Seq[Column] = {
    import org.apache.spark.sql.types._
    val P = 1000000007L
    // Strings fingerprint their UTF-8 BYTES via the hex expansion:
    // engines disagree on per-character primitives for non-ASCII text
    // (Spark's `ascii` yields the first UTF-8 byte — negative for
    // multi-byte sequences — while DuckDB's `unicode` yields the
    // codepoint), but hex(utf8_bytes) is pure ASCII on every engine, so
    // the same Karp–Rabin fold over it is byte-exact for ALL Unicode,
    // supplementary planes included. The empty string is pinned to 0
    // explicitly: Spark's sequence(1, 0) would otherwise produce a
    // DESCENDING [1, 0] (step defaults to -1 when stop < start).
    def krHexFold(h: Column): Column =
      when(length(h) === 0, lit(0L)).otherwise(
        aggregate(
          sequence(lit(1), length(h)),
          lit(0L),
          (acc, i) => (acc * 31L + ascii(h.substr(i, lit(1)))) % P))
    def krRaw(c: Column): Column = krHexFold(hex(encode(c, "UTF-8")))
    def normalize(c: Column): Column = dt match {
      case ByteType | ShortType | IntegerType | LongType => c.cast("long")
      case StringType => krRaw(c)
      // BLOBs reuse the string kernel minus the encode step: hex() is
      // uppercase ASCII on every engine, so the fold is byte-exact for
      // arbitrary binary (the reference's BLOB→longblob path,
      // /root/reference/cmd/tablemeta.go:153-154); empty binary pins
      // to 0 through the same length guard
      case BinaryType => krHexFold(hex(c))
      // vector columns fingerprint their float32-LE packed bytes — the
      // exact payload the ArrayCarrier JDBC convention stores, so a
      // synced-then-unpacked embedding column checksums equal to its
      // source by construction (raw IEEE-754 bits, no float rounding)
      case ArrayType(FloatType, _) =>
        krHexFold(hex(graft.functions.PackF32Expression.packF32(c)))
      // NUMBER(p,s)→decimal is the reference's flagship type mapping
      // (/root/reference/cmd/tablemeta.go:138-139): normalize to
      // UNSCALED integer units v·10^s. The unscaled VALUE always has
      // at most p ≤ 38 digits, but Spark TYPES the multiply at
      // precision p+s+2 — for extreme types that exceeds 38 and the
      // product could overflow to NULL under non-ANSI semantics,
      // silently dropping the row from the checksum sum. Three tiers,
      // none of them silent:
      //  - p+s+2 ≤ 38 (every mapping the reference's clamps produce):
      //    the direct multiply, typed exactly;
      //  - wider types with s ≤ 18 (decimal(38,10) and kin): an exact
      //    congruence path — [[mix]] only consumes v mod 2^31, and
      //    c·10^s ≡ pmod(c,2^31)·10^s (mod 2^31), so reduce FIRST
      //    (bounded type), split integer/fraction, and reassemble in
      //    64-bit integer arithmetic. Every intermediate is typed
      //    within 38 digits, so nothing can round or null;
      //  - s > 18 with an oversized product type: refuse loudly — a
      //    checksum that might silently drop rows is worse than none.
      case d: DecimalType =>
        if (d.scale == 0) c.cast(DecimalType(38, 0))
        else if (d.precision + d.scale + 2 <= 38)
          (c * lit(new java.math.BigDecimal(java.math.BigInteger.TEN.pow(d.scale))))
            .cast(DecimalType(38, 0))
        else if (d.scale <= 18) {
          val m = 2147483648L // 2^31, the modulus mix() reduces by
          // The modulus literal must be typed decimal(10,0) — a bare
          // long coerces to decimal(20,0) and pmod then keeps TWENTY
          // integer digits, which pushes the xm − floor(xm) subtraction
          // to typed precision s+22 (> 38 for s ≥ 17, silently rounding
          // the fraction's tail). With 10 integer digits every
          // intermediate stays ≤ s+12 ≤ 30.
          val mLit = lit(new java.math.BigDecimal(m)).cast(DecimalType(10, 0))
          // pmod's POSITIVE representative needs 10 integer digits
          // (2^31 ≈ 2.1e9), but pmod is typed with min(p−s, 10) of
          // them — a narrow-integer-part type like decimal(25,16)
          // carries only p−s = 9, so a NEGATIVE value's pmod would
          // overflow its own result type and null out, silently
          // dropping the row. Widen the input's integer part to at
          // least 10 digits first; the cast is precision-increasing
          // (s + max(p−s,10) ≥ p), so it can never itself overflow.
          val cw = c.cast(DecimalType(
            math.min(38, d.scale + math.max(d.precision - d.scale, 10)), d.scale))
          // xm = c mod 2^31 ∈ [0, 2^31): typed (10+s, s) ≤ 28
          val xm = pmod(cw, mLit)
          val i = floor(xm).cast(LongType) // integer part, < 2^31
          // fractional part < 1 with exactly s digits: decimal(s,s)
          // holds it exactly; ×10^s is typed 2s+2 ≤ 38 and integral
          val fu = (
            (xm - floor(xm)).cast(DecimalType(d.scale, d.scale)) *
              lit(new java.math.BigDecimal(java.math.BigInteger.TEN.pow(d.scale))))
            .cast(DecimalType(19, 0)).cast(LongType)
          val tenPowSModM = java.math.BigInteger.TEN.pow(d.scale)
            .mod(java.math.BigInteger.valueOf(m)).longValueExact()
          // i·(10^s mod m) < 2^62 and fu < 10^18: no long overflow
          pmod(i * lit(tenPowSModM) + fu, lit(m))
        } else
          throw new IllegalArgumentException(
            s"portable checksum cannot normalize decimal(${d.precision},${d.scale}) " +
              "exactly: the x10^s conversion would be typed past 38 digits and " +
              "could overflow to NULL silently. Reduce the scale (the reference " +
              "clamps to <= 30 with p-s headroom) or checksum an explicit cast.")
      case TimestampType => unix_micros(c)
      // parquet TIMESTAMP without zone: interpret in the session zone
      // (the engine sessions pin UTC), matching DuckDB's naive epoch_us
      case TimestampNTZType => unix_micros(c.cast(TimestampType))
      case DateType => datediff(c, lit("1970-01-01").cast("date")).cast("long")
      case FloatType | DoubleType => floor(c.cast("double") * 100 + 0.5).cast("long")
      case BooleanType => c.cast("long")
      case other =>
        throw new IllegalArgumentException(s"no portable normalization for $other")
    }
    def mix(v: Column): Column =
      pmod(pmod(v, lit(2147483648L)) * lit(2654435761L), lit(4294967296L))
    Seq(
      sum(when(col(name).isNull, lit(0L)).otherwise(mix(normalize(col(name))))
        .cast(DecimalType(38, 0))).as(s"${name}__sum"),
      sum(when(col(name).isNull, 1L).otherwise(0L)).as(s"${name}__nulls"))
  }

  /** Row-level diff of two tables on a key — beyond the reference
    * (which only compares cardinality): reports every key that is
    * missing on either side or whose non-key columns differ
    * (null-safe). One shuffle join on the key; at 100 TB compose with
    * bucketed storage ([[graft.plans.ScaleJoins]]) to make it
    * exchange-free. Matching rows are filtered out pre-shuffle-return,
    * so the result is O(discrepancies), not O(rows).
    *
    * @return (key columns..., diff_status ∈ missing_in_dest |
    *         missing_in_src | value_mismatch)
    */
  def rowDiff(src: DataFrame, dest: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = src.columns.filterNot(keys.contains).toSeq
    val s = src.withColumn("__in_src", lit(1))
    val d = dest.columns.filterNot(keys.contains)
      .foldLeft(dest)((df, c) => df.withColumnRenamed(c, s"__d_$c"))
      .withColumn("__in_dest", lit(1))
    val joined = s.join(d, keys, "full_outer")
    val anyDiff = valueCols
      .map(c => !(col(c) <=> col(s"__d_$c")))
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    joined
      .withColumn("diff_status",
        when(col("__in_dest").isNull, lit("missing_in_dest"))
          .when(col("__in_src").isNull, lit("missing_in_src"))
          .when(anyDiff, lit("value_mismatch")))
      .filter(col("diff_status").isNotNull)
      .select(keys.map(col) :+ col("diff_status"): _*)
  }

  /** Negative-space deletion audit — the compliance read a takedown /
    * PII purge ends with: for each probe id, how many rows still carry
    * it on each named surface (base table, index postings, rosters,
    * tombstones, served query results …). A deleted id must show 0 on
    * every post-purge surface while untouched ids show their expected
    * presence — the per-id counts are the evidence, not a bare
    * boolean, so an audit row can be compared against an independent
    * recomputation (the CORRECTNESS gate does exactly that).
    *
    * Scale shape: one broadcast-probe aggregate per surface (probes
    * are a bounded audit sample; each surface scans once, grouped by
    * id), left-joined back to the probe frame so absent ids read 0 —
    * never a collect of surface rows.
    *
    * VERSIONED datasets: retained versions are surfaces too — a
    * takedown that skips them audits clean while
    * [[graft.plans.Snapshots.readVersion]] still serves the purged
    * rows. Append [[graft.plans.Snapshots.versionSurfaces]] to the
    * surface list (after [[graft.plans.Snapshots.purgeVersions]]) so
    * the audit covers history.
    *
    * Output: (id, <surface>_rows …) — one BIGINT column per surface,
    * in the given order, one row per distinct probe id.
    */
  def absenceAudit(
      probes: DataFrame,
      probeCol: String,
      surfaces: Seq[(String, DataFrame, String)] // (name, frame, idCol)
  ): DataFrame = {
    require(surfaces.nonEmpty, "need at least one surface to audit")
    val base = probes.select(col(probeCol).as("id")).distinct()
    surfaces.foldLeft(base) { case (acc, (name, frame, idCol)) =>
      val counts = frame
        .join(broadcast(base), frame(idCol) === base("id"), "left_semi")
        .groupBy(col(idCol).as("id"))
        .agg(count(lit(1)).as(s"${name}_rows"))
      acc.join(counts, Seq("id"), "left_outer")
        .withColumn(s"${name}_rows",
          coalesce(col(s"${name}_rows"), lit(0L)))
    }
  }

  /** Deep compare of one table on both sides via [[checksum]].
    *
    * The two sides run at the same time: the destination's checksum job
    * on a thread this call starts, the source's on the calling thread.
    * The new thread inherits the caller's Spark local properties, so
    * both jobs run under the caller's job group and cancelling that
    * group cancels both. The call waits for both sides and rethrows the
    * failure of either, the source's first.
    */
  def compareChecksums(
      spark: SparkSession,
      src: TableSource,
      dest: TableSource,
      table: String
  ): Boolean = {
    def side(ts: TableSource) = checksum(ts.table(spark, table)).collect()(0)
    val destSide = new java.util.concurrent.FutureTask(() => side(dest))
    val th = new Thread(destSide, s"graft-checksum-$table")
    th.setDaemon(true)
    th.start()
    val s = try side(src) finally th.join()
    val d = try destSide.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    s == d
  }
}
