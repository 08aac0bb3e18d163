package graft

/** Shared test fixtures. */
object TestFixtures {

  /** `path` (a file or a directory tree) copied under a fresh temp dir, so
    * its donor keys are new and a [[graft.sources.FastParquet.read]] of
    * the copy misses the memo. Returns the copy's path. */
  def freshCopy(path: String): String = {
    val src = java.nio.file.Paths.get(path)
    val dst = java.nio.file.Files.createTempDirectory("graft_fresh_")
      .resolve(src.getFileName)
    val w = java.nio.file.Files.walk(src)
    try w.forEach(f => java.nio.file.Files.copy(f, dst.resolve(src.relativize(f))))
    finally w.close()
    dst.toString
  }

  /** An `events` file of the older testdata generation: `ts` stored as
    * parquet TIMESTAMP(NANOS), written with parquet-mr directly. Rows are
    * (event_id, ts, user_id, event_type, value, props). */
  def writeNanosEvents(path: String,
      rows: Seq[(Long, java.time.LocalDateTime, Long, String, Double, String)])
      : Unit = {
    val schemaStr =
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin
    val msgType = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(schemaStr)
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msgType, conf)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(msgType).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msgType)
    try rows.foreach { case (id, ts, uid, et, v, p) =>
      val nanos = ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L +
        ts.getNano
      writer.write(gf.newGroup()
        .append("event_id", id).append("ts", nanos).append("user_id", uid)
        .append("event_type", et).append("value", v).append("props", p))
    } finally writer.close()
  }
}
