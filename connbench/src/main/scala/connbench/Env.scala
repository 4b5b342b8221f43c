package connbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sharing.{DeltaSchema, DeltaSharingClient, Profile, TableRef}
import graft.sharing.catalog.GraftCatalog
import graft.sharing.server.LocalSharingServer

final case class FileEntry(path: String, partitionValues: Map[String, String],
    stats: Option[String])
final case class TableEntry(name: String, partitionColumns: Seq[String],
    files: Seq[FileEntry])
/** One seeded `lookup` query: `point` on `key`, `agg` on `priority` and
  * `minPrice`, or `count`. */
final case class Query(kind: String, key: Long, priority: String,
    minPrice: Double)

/** The generated inputs of one run, as listed in `manifest.json`. */
final class Inputs(val dir: String, val seed: Long, val tables: Seq[TableEntry],
    val queries: Seq[Seq[Query]]) {
  def table(name: String): TableEntry = tables.find(_.name == name).get
  def tableDir(name: String): String = s"$dir/$name"
  def bytes: Long = tables.flatMap(_.files)
    .map(f => Files.size(Paths.get(dir, f.path))).sum
}

object Inputs {
  def load(dir: String): Inputs = {
    val m = new ObjectMapper().readTree(Paths.get(dir, "manifest.json").toFile)
    def text(n: JsonNode, f: String): String = n.get(f).asText()
    val tables = m.get("tables").asScala.toSeq.map { t =>
      TableEntry(text(t, "name"),
        t.get("partitionColumns").asScala.map(_.asText()).toSeq,
        t.get("files").asScala.toSeq.map { f =>
          FileEntry(text(f, "path"),
            f.get("partitionValues").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap,
            Option(f.get("stats")).filterNot(_.isNull).map(_.asText()))
        })
    }
    val queries = Option(m.get("queries")).toSeq.flatMap(_.asScala).map(
      _.asScala.toSeq.map { q =>
        Query(text(q, "type"), Option(q.get("key")).map(_.asLong()).getOrElse(0L),
          Option(q.get("priority")).map(_.asText()).orNull,
          Option(q.get("minPrice")).map(_.asDouble()).getOrElse(0.0))
      })
    new Inputs(dir, m.get("seed").asLong(), tables, queries)
  }
}

/** Milliseconds of each setup step. */
final case class SetupTimes(sessionMs: Double, serverMs: Double,
    catalogMs: Double, warmupMs: Double)

/** One live set-up: SparkSession, sharing server over the inputs, REST
  * client and the `bench` catalog. */
final class Env(val spark: SparkSession, val server: LocalSharingServer,
    val client: DeltaSharingClient, val inputs: Inputs) {
  def ref(table: String): TableRef = TableRef(Env.Share, Env.Schema, table)
  def catalogTable(table: String): String = s"${Env.Share}.${Env.Schema}.$table"
  def direct(table: String): DataFrame = spark.read.parquet(inputs.tableDir(table))

  def close(): Unit = {
    server.stop()
    spark.stop()
  }
}

object Env {
  val Share = "bench"
  val Schema = "main"

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Build an [[Env]] over `inputs`, timing each step. `work` is a
    * scratch directory inside the benchmark's build directory. */
  def setup(inputs: Inputs, cpus: Int, work: String): (Env, SetupTimes) = {
    var t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = ms(t0)

    t0 = System.nanoTime()
    val server = new LocalSharingServer()
    inputs.tables.foreach { t =>
      val schema = spark.read.parquet(inputs.tableDir(t.name)).schema
      server.addTable(Share, Schema, server.TableDef(t.name,
        DeltaSchema.toSchemaString(schema), t.partitionColumns,
        t.files.map(f => server.ServedFile(Paths.get(inputs.dir, f.path),
          f.partitionValues, f.stats))))
    }
    server.start()
    val profile = Paths.get(work, "profile.json")
    Files.writeString(profile, server.profileJson)
    val client = new DeltaSharingClient(Profile.fromPath(profile.toString))
    val serverMs = ms(t0)

    t0 = System.nanoTime()
    spark.conf.set(s"spark.sql.catalog.$Share", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Share.profile", profile.toString)
    spark.sql(s"SHOW TABLES IN $Share.$Schema").collect()
    val catalogMs = ms(t0)

    t0 = System.nanoTime()
    client.listAllTables(Share)
    spark.range(1).count()
    val warmupMs = ms(t0)

    (new Env(spark, server, client, inputs),
      SetupTimes(sessionMs, serverMs, catalogMs, warmupMs))
  }
}
