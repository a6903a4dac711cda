package graft

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, PropertyNamingStrategies, SerializerProvider}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** What the harness mains share besides their session
  * ([[GraftSession.local]]): the timed-rep runner, its median, and the
  * one JSON writer for every artifact they emit (the bench line and
  * `LAST_BENCH.json`, the probe export, `oracle_sql.json`, the
  * lifecycle soak's line).
  */
object Harness {

  /** Times `reps` runs of `action`, in seconds. A run that throws is a
    * failure, not a (fast) time: it is left out, so a regression that
    * breaks a query never reads as a speed-up, and a caller left with
    * no times reports the query as failed.
    */
  def timedReps(reps: Int)(action: => Any): Seq[Double] =
    (1 to reps).flatMap { _ =>
      val t0 = System.nanoTime()
      try { action; Some((System.nanoTime() - t0) / 1e9) }
      catch { case _: Throwable => None }
    }

  /** Median of a non-empty sample; even sizes average the middle two. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** A JSON value written verbatim. The tools that read the artifacts
    * see fixed-decimal times (`1.500`, not `1.5`) and the soak file's
    * object as it was written, so these values keep their text.
    */
  final case class Raw(json: String)

  object Raw {
    /** Seconds to 3 decimals; a failed reading (< 0) is `-1`. */
    def secs(v: Double): Raw = Raw(if (v < 0) "-1" else f"$v%.3f")

    /** A rate rounded to a whole number; a failed reading is `-1`. */
    def whole(v: Double): Raw = Raw(if (v < 0) "-1" else f"$v%.0f")
  }

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule().addSerializer(classOf[Raw],
      new StdSerializer[Raw](classOf[Raw]) {
        override def serialize(r: Raw, g: JsonGenerator, p: SerializerProvider): Unit =
          g.writeRawValue(r.json)
      }))
    // record fields are camelCase in Scala and snake_case on the wire;
    // map keys (query names, oracle SQL names) are written as given
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    // an optional field that is None leaves its key out
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .build()

  /** One line of JSON for a record, map or sequence. */
  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def parse(json: String): JsonNode = mapper.readTree(json)
}
