package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import graft.ext.{Dedup, HistStore, SketchStore}

/** The store readers declare their relations' schemas instead of inferring
  * them. These tests pin each declared schema to what the writers actually
  * write, after a build and an append, so a writer that changes a type
  * fails here instead of being silently mis-read. */
class StoreSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Names and types; parquet reads every column back as nullable. */
  private def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  /** The distinct shapes of the parquet files under `path`, each file read
    * on its own (a directory read takes one file's footer). */
  private def written(path: String): Set[Seq[(String, String)]] = {
    val files = new java.io.File(path).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty, s"no parquet files under $path")
    files.map(f => shape(spark.read.parquet(f).schema)).toSet
  }

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft_schema_$name").toString + "/s"

  private lazy val events = Tables.load(spark, SparkTestSession.sfDir, "events")

  test("histogram store: build, append and stream slot match HistStore.daysSchema") {
    val store = tmp("hist")
    HistStore.buildHistStore(events.limit(50), store)
    HistStore.appendToHistStore(events.limit(5), store)
    HistStore.appendStreamBatch(events.limit(5), store, batchId = 3L)
    assert(written(s"$store/days") === Set(shape(StructType.fromDDL(HistStore.daysSchema))))
    assert(written(s"$store/days_stream/batch-3") === Set(shape(StructType.fromDDL(HistStore.daysSchema))))
  }

  test("sketch store: build and append match SketchStore.daysSchema") {
    val store = tmp("sketch")
    SketchStore.buildSketchStore(events.limit(50), store)
    SketchStore.appendToSketchStore(events.limit(5), store)
    assert(written(s"$store/days") === Set(shape(StructType.fromDDL(SketchStore.daysSchema))))
  }

  test("band store: build and append match Dedup.bandStoreSchema, whatever the doc_id type") {
    val store = tmp("band")
    val text = (1 to 12).map(i => s"tok$i").mkString(" ")
    // int ids on the build, long ids on the append: the writer fixes bigint
    Dedup.buildBandStore(Seq((1, text), (2, text + " more")).toDF("doc_id", "text"), store)
    Dedup.appendToBandStore(Seq((3L, text + " other")).toDF("doc_id", "text"), store)
    assert(Dedup.bandStoreSchema.keySet === Set("bands", "hashes"))
    for ((relation, schema) <- Dedup.bandStoreSchema)
      assert(written(s"$store/$relation") === Set(shape(StructType.fromDDL(schema))), relation)
  }
}
