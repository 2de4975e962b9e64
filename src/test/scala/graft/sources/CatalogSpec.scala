package graft.sources

import graft.SparkSpec

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def registrations(cat: Catalog): Seq[String] =
    cat.metadata.select("tableName").as[String].collect().toSeq.sorted

  test("two stages registering at once both keep their metadata row") {
    spark.sql("DROP TABLE IF EXISTS catalogSpecMetaRace")
    val cat = new Catalog(spark, "catalogSpecMetaRace")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val start = new java.util.concurrent.CountDownLatch(1)
    val writers = Seq("catalogSpecA", "catalogSpecB").map { name =>
      Future {
        start.await()
        cat.createTableWithMeta(name, s"$name rows", Seq(1, 2).toDF("x"))
      }
    }
    start.countDown()
    // rethrows a writer's failure
    writers.foreach(Await.result(_, scala.concurrent.duration.Duration(2, "min")))
    assert(registrations(cat) == Seq("catalogSpecA", "catalogSpecB"))
    assert(cat.table("catalogSpecB").count() == 2)
  }

  test("a re-registration adds a second metadata row") {
    spark.sql("DROP TABLE IF EXISTS catalogSpecMetaTwice")
    val cat = new Catalog(spark, "catalogSpecMetaTwice")
    cat.createTableWithMeta("catalogSpecC", "first", Seq(1).toDF("x"))
    cat.createTableWithMeta("catalogSpecC", "second", Seq(1, 2, 3).toDF("x"))
    assert(registrations(cat) == Seq("catalogSpecC", "catalogSpecC"))
    assert(cat.metadata.select("tableDescription").as[String].collect().toSet == Set("first", "second"))
    assert(cat.table("catalogSpecC").count() == 3)
  }
}
