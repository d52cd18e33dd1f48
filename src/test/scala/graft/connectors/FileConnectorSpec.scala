package graft.connectors

import graft.SparkSpec
import graft.config.MigrationConfig
import graft.core.IncrementalMigrator

class FileConnectorSpec extends SparkSpec {
  import spark.implicits._

  test("an incremental csv or json run executes its anti-join once: the write counts its rows") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-file-onepass").toString
    def src(sub: String, rows: Seq[(String, Seq[Float], Map[String, String])]): String = {
      rows.toDF("id", "vector", "metadata").write.parquet(s"$tmp/$sub/docs.parquet")
      s"$tmp/$sub"
    }
    val v1 = src("v1", Seq(("a", Seq(1f, 2f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2"))))
    val v2 = src("v2", Seq(("a", Seq(9f, 9f), Map("k" -> "1")), ("b", Seq(3f, 4f), Map("k" -> "2")),
      ("c", Seq(5f, 6f), Map("k" -> "3"))))
    for (fmt <- Seq("csv", "json")) {
      def c(srcPath: String) = MigrationConfig.fromJson(
        s"""{"source": {"type": "parquet", "connection": {"path": "$srcPath"},
           |            "query": {"table_name": "docs"}},
           | "target": {"type": "$fmt", "connection": {"path": "$tmp/out"},
           |            "load": {"collection": "t_$fmt", "parallelism": 2}}}""".stripMargin)
      assert(IncrementalMigrator.run(spark, c(v1)).success)
      // "c" is new; "a" changed, and an append-only file sink withholds it
      val (r, antiJoins) = executionsDuring(hasLeftAnti)(IncrementalMigrator.run(spark, c(v2)))
      assert(r.success && r.written == 1 && r.metrics("rows") == "1" &&
        r.withheldUpdates == 1, s"$fmt: $r")
      assert(antiJoins == 1, s"$fmt: $antiJoins executions ran the (id, hash) anti-join")
      assert(ConnectorRegistry(fmt).readBack(spark, Map("path" -> s"$tmp/out"),
        graft.config.LoadSpec(collection = s"t_$fmt")).count() == 3, fmt)
    }
  }

  test("a null vector element survives a csv write and read-back in its place") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-file-nullelem").toString
    val df = spark.sql("SELECT 'a' AS id, array(1.5F, NULL, 2.0F) AS vector, " +
      "map('k', '1') AS metadata UNION ALL " +
      "SELECT 'b', array(3.0F, 4.0F, 5.0F), map('k', '2')")
    val csv = ConnectorRegistry("csv")
    val load = graft.config.LoadSpec(collection = "nullelem")
    assert(csv.write(df, Map("path" -> tmp), load).written == 2)
    val back = csv.readBack(spark, Map("path" -> tmp), load).orderBy("id").collect()
      .map(r => r.getString(0) -> r.getSeq[Any](1).toSeq).toSeq
    assert(back == Seq("a" -> Seq(1.5f, null, 2.0f), "b" -> Seq(3f, 4f, 5f)), back)
  }
}
