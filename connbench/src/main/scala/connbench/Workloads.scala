package connbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.CacheRegistry
import graft.operators.{Dedup, Similarity}
import graft.sharing.GraftSharing

/** One benchmark workload: what an op does and what it must produce. */
trait Workload {
  /** Closed-loop clients, each on its own thread. */
  def clients: Int
  /** The shared tables the workload reads; the first is its main table. */
  def tables: Seq[String]
  /** Run op `i` of `client`. The returned thunk reads the op's output for
    * the correctness check, off the clock. */
  def op(env: Env, client: Int, i: Long): () => Any
  /** A client's ops repeat with this period, so their references do too. */
  def period: Int = 1
  /** Files of the table(s) op `i` of `client` could open. */
  def stagedFiles(env: Env, client: Int, i: Long): Int =
    tables.map(t => env.inputs.table(t).files.size).sum

  /** What op `i` of `client` must produce: the same computation over
    * `spark.read.parquet` of the staged files, memoized per key. */
  final def expected(env: Env, client: Int, i: Long): Any =
    references.getOrElseUpdate(referenceKey(client, i), reference(env, client, i))
  protected def referenceKey(client: Int, i: Long): Any = ()
  protected def reference(env: Env, client: Int, i: Long): Any
  private val references = TrieMap.empty[Any, Any]
}

object Workload {
  def apply(name: String, inputs: Inputs): Workload = name match {
    case "scan" => new Scan
    case "lookup" => new Lookup(inputs.queries)
    case "pipeline" => new Pipeline
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def readShared(env: Env, table: String): DataFrame =
    Trace.span("connector.open")(
      GraftSharing.readTable(env.spark, env.client, env.ref(table)))
}

/** Bulk read of every column of `lineitem` into the noop sink; checked by
  * row count and the sum of `l_orderkey`. */
final class Scan extends Workload {
  val clients = 1
  val tables = Seq("lineitem")

  private def observed(df: DataFrame): () => Any = {
    val obs = new Observation()
    Workload.noop(df.observe(obs, count(lit(1)).as("rows"),
      sum(col("l_orderkey")).as("key_sum")))
    () => obs.get
  }

  def op(env: Env, client: Int, i: Long): () => Any =
    observed(Workload.readShared(env, "lineitem"))
  protected def reference(env: Env, client: Int, i: Long): Any =
    observed(env.direct("lineitem"))()
}

/** Interactive catalog SQL: each client cycles through its seeded list of
  * point lookups, partition-filtered aggregates and partition counts. An
  * op is one round of three consecutive queries, one of each kind, so op
  * latency is not a mix of three different distributions. */
final class Lookup(queries: Seq[Seq[Query]]) extends Workload {
  val clients: Int = queries.size
  val tables = Seq("orders_kr", "orders_pri")
  private val RoundSize = 3
  override def period: Int = queries.map(_.size).max / RoundSize

  private def round(client: Int, i: Long): Seq[Query] = {
    val r = (i % (queries(client).size / RoundSize)).toInt
    queries(client).slice(r * RoundSize, (r + 1) * RoundSize)
  }

  private def table(q: Query): String =
    if (q.kind == "point") "orders_kr" else "orders_pri"

  private def sql(q: Query, name: String => String): String = q.kind match {
    case "point" =>
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
        s"FROM ${name(table(q))} WHERE o_orderkey = ${q.key}"
    case "agg" =>
      "SELECT o_orderstatus, count(*) AS n, " +
        "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total " +
        s"FROM ${name(table(q))} WHERE o_orderpriority = '${q.priority}' " +
        s"AND o_totalprice >= ${q.minPrice} GROUP BY o_orderstatus"
    case "count" =>
      s"SELECT o_orderpriority, count(*) AS n FROM ${name(table(q))} " +
        "GROUP BY o_orderpriority"
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  def op(env: Env, client: Int, i: Long): () => Any = {
    val results = round(client, i).map { q =>
      val df = env.spark.sql(sql(q, env.catalogTable))
      val r = rows(df)
      Trace.plan(df.queryExecution)
      r
    }
    () => results
  }

  override def stagedFiles(env: Env, client: Int, i: Long): Int =
    round(client, i).map(q => env.inputs.table(table(q)).files.size).sum

  override protected def referenceKey(client: Int, i: Long): Any = round(client, i)
  protected def reference(env: Env, client: Int, i: Long): Any = {
    tables.filterNot(t => env.spark.catalog.tableExists(s"direct_$t"))
      .foreach(t => env.direct(t).createOrReplaceTempView(s"direct_$t"))
    round(client, i).map(q => rows(env.spark.sql(sql(q, t => s"direct_$t"))))
  }
}

/** Training-data curation over shared data: quality filter plus MinHash
  * near-duplicate pairs over `documents`, cosine pairs over `embeddings`,
  * then release of the frames the operators cached. Each action is
  * checked by its pair count and an order-free pair checksum. */
final class Pipeline extends Workload {
  val clients = 1
  val tables = Seq("documents", "embeddings")
  private val MinChars = 80
  private val CosineThreshold = 0.9

  private def pairsObserved(pairs: DataFrame, a: String, b: String): () => Any = {
    val obs = new Observation()
    Workload.noop(pairs.observe(obs, count(lit(1)).as("pairs"),
      bit_xor(xxhash64(col(a), col(b))).as("pair_hash")))
    () => obs.get
  }

  private def run(docs: DataFrame, emb: DataFrame): () => Any = {
    val dedup = Trace.span("op.minhash")(pairsObserved(
      Dedup.minhashPairs(docs.filter(col("n_chars") >= MinChars &&
        col("lang") =!= "zh"), "doc_id", "text"), "doc_a", "doc_b"))
    val cosine = Trace.span("op.cosine")(pairsObserved(
      Similarity.cosinePairs(emb, CosineThreshold), "vec_a", "vec_b"))
    Trace.count("cache.frames", CacheRegistry.size)
    Trace.span("cache.release")(CacheRegistry.releaseAll())
    () => (dedup(), cosine())
  }

  def op(env: Env, client: Int, i: Long): () => Any =
    run(Workload.readShared(env, "documents"), Workload.readShared(env, "embeddings"))
  protected def reference(env: Env, client: Int, i: Long): Any =
    run(env.direct("documents"), env.direct("embeddings"))()
}
