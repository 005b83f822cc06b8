package graft

class TablesSuite extends SparkSpec {
  import spark.implicits._

  test("t() infers the schema again after the table is rewritten at the same path") {
    val dir = tmpDir("tables").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/items.parquet")
    assert(Tables.t(spark, dir, "items").columns.toSeq == Seq("id", "name"))

    Seq((2.5, true, "b")).toDF("score", "flag", "label")
      .write.mode("overwrite").parquet(s"$dir/items.parquet")
    val again = Tables.t(spark, dir, "items")
    assert(again.columns.toSeq == Seq("score", "flag", "label"))
    assert(again.as[(Double, Boolean, String)].collect().toSeq == Seq((2.5, true, "b")))
  }
}
