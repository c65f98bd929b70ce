package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.TimestampType

/** `Tables.table` reads each schema from one parquet footer on the
  * driver: the same schema `spark.read.parquet` infers, with no job.
  */
class TablesSpec extends SparkSpec {

  private def inferred(dir: String, name: String) =
    spark.read.parquet(s"$dir/$name.parquet").schema

  test("footer schemas equal spark.read.parquet's, and building a table submits no job") {
    for (name <- Tables.all) {
      Tables.table(spark, sfTiny, name)
      val jobs = jobsDuring(Tables.table(spark, sfTiny, name))
      assert(jobs == 0, s"building $name submitted $jobs jobs")
      assert(Tables.table(spark, sfTiny, name).schema == inferred(sfTiny, name),
        name)
    }
    // a directory of part files, as a Spark writer leaves it
    val dir = StandingState.managedTempDir("graft_tables_").toString
    Tables.lineitem(spark, sfTiny).limit(50).repartition(3)
      .write.parquet(s"$dir/lineitem.parquet")
    assert(Tables.lineitem(spark, dir).schema == inferred(dir, "lineitem"))
    assert(Tables.lineitem(spark, dir).count() == 50)
  }

  test("both events.ts layouts: TIMESTAMP(MICROS) without UTC adjustment and TIMESTAMP(NANOS)") {
    // sf0.001 ships the MICROS layout, which Spark reads as TIMESTAMP_NTZ
    assert(Tables.table(spark, sfTiny, "events").schema ==
      inferred(sfTiny, "events"))
    val dir = StandingState.managedTempDir("graft_nanos_").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try w.write(groups.newGroup().append("event_id", 1L)
      .append("ts", 1700000000123456789L))
    finally w.close()
    val events = Tables.events(spark, dir) // sets nanosAsLong
    assert(Tables.table(spark, dir, "events").schema == inferred(dir, "events"))
    assert(events.schema("ts").dataType == TimestampType)
    assert(events.head().getTimestamp(1).getTime == 1700000000123L)
  }
}
