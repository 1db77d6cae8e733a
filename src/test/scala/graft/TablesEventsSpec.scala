package graft

import org.apache.spark.sql.functions._

/** Pins the events.ts normalization contract across the parquet
  * generations the driver has shipped (TIMESTAMP(NANOS)→Long under
  * nanosAsLong, TIMESTAMP_MICROS→NTZ, and the adjusted-to-UTC LTZ
  * variant): whatever the file carries, `Tables.events` delivers
  * epoch-nano Long, UTC wall clock.
  */
class TablesEventsSpec extends SparkSpec {
  import spark.implicits._

  private val wall = "2024-03-01 12:34:56.789012"
  private val epochMicros = 1709296496789012L // the wall clock AS UTC

  private def loadFrom(writer: String => Unit): Long = {
    val dir = tempDir("graft-events")
    writer(s"$dir/events.parquet")
    val row = Tables.events(spark, dir)
      .select(col("ts")).head()
    row.getLong(0)
  }

  test("TIMESTAMP_NTZ events.ts (current generation) → epoch-nano Long") {
    val nanos = loadFrom { path =>
      Seq(Tuple1(java.time.LocalDateTime.parse(wall.replace(" ", "T"))))
        .toDF("ts")
        .withColumn("event_id", lit(1L))
        .write.parquet(path)
    }
    assert(nanos === epochMicros * 1000L)
  }

  test("TIMESTAMP (adjusted-to-UTC) events.ts → epoch-nano Long") {
    val nanos = loadFrom { path =>
      Seq(Tuple1(java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(epochMicros / 1000000L,
            (epochMicros % 1000000L) * 1000L))))
        .toDF("ts")
        .withColumn("event_id", lit(1L))
        // force the isAdjustedToUTC=true branch: write as INT96-free
        // TimestampType parquet
        .write.option("parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .parquet(path)
    }
    assert(nanos === epochMicros * 1000L)
  }

  test("Long events.ts (nanosAsLong generation) passes through untouched") {
    val nanos = loadFrom { path =>
      Seq(Tuple1(epochMicros * 1000L)).toDF("ts")
        .withColumn("event_id", lit(1L))
        .write.parquet(path)
    }
    assert(nanos === epochMicros * 1000L)
  }

  test("driver events table reads as epoch-nano Long under the contract") {
    val ts = Tables.events(spark, sfDir).select(col("ts")).head().getLong(0)
    // epoch-nanos for any plausible event date land in (2000, 2100)
    assert(ts > 946684800L * 1000000000L && ts < 4102444800L * 1000000000L)
  }
}
