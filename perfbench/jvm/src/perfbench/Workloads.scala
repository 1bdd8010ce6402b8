package perfbench

import graft.ext.{CorpusAnalysis, Dedup, Similarity}
import graft.model.{SyncMode, SyncReport}
import graft.run.SyncRunner
import graft.state.SyncStateStore
import graft.sync.LakeTable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** A benchmark workload: a set-up that makes (or re-checks) its seeded
  * inputs, and a pass of timed operations. Each workload names the
  * operations its six slots (`op1`..`op6`) time. */
trait Workload {
  def slots: Seq[(String, String)]
  /** Rows of the workload's generated table(s): the bytes-per-row base. */
  def sourceRows: Long
  def sizes: Map[String, Any]
  def setup(): Unit
  def pass(): Unit
}

/** Generated source versions of one sync table ([[Gen.syncKeys]]), cached
  * on disk under a key of generator version, seed and size. All versions
  * are written by one query, partitioned by version name. */
final class SyncInputs(spark: SparkSession, cacheRoot: Path, seed: Long, rows: Long,
    payloadBytes: Int, steps: Seq[Gen.Step]) {
  val dir: Path = cacheRoot.resolve(s"g${Gen.Version}-sync-s$seed-r$rows-p$payloadBytes-" +
    steps.map(s => s"${s.name}.${s.parent}.${s.upd}.${s.del}.${s.ins}").mkString("_"))
  private val data = dir.resolve("versions")
  private val manifest = dir.resolve("manifest.tsv")
  private val versions = "v0" +: steps.map(_.name)

  def path(version: String): String = data.resolve(s"version=$version").toString

  /** Generates the versions unless a complete cache entry exists; a cache
    * entry is re-read and checked against its manifest instead. */
  def ensure(): Unit = if (Files.exists(manifest)) check() else {
    FileTree.delete(dir)
    val keys = versions.map(v => Gen.syncKeys(spark, seed, rows, steps, v).withColumn("version", lit(v)))
    Gen.syncRows(keys.reduce(_ unionByName _), seed, payloadBytes)
      .write.partitionBy("version").parquet(data.toString)
    val lines = checksums.toSeq.sortBy(_._1).map { case (v, cs) => (v +: cs).mkString("\t") }
    Files.write(manifest, lines.mkString("\n").getBytes(UTF_8))
  }

  /** version -> (RecId, SysRowVersion) checksum, read back from disk. */
  private def checksums: Map[String, Seq[Long]] =
    Gen.keyChecksums(spark.read.parquet(data.toString), "version")

  /** Expected (RecId, SysRowVersion) checksum of every version. */
  lazy val expected: Map[String, Seq[Long]] =
    new String(Files.readAllBytes(manifest), UTF_8).split("\n").map { l =>
      val f = l.split("\t"); f.head -> f.tail.map(_.toLong).toSeq
    }.toMap

  private def check(): Unit = {
    val got = checksums
    require(got == expected, s"inputs do not match their manifest: $got vs $expected")
  }
}

/** One sync table through its whole life, every pass from an empty
  * target: a full reload (Standard), a no-change re-sync (Noop), a 5% update
  * (Incremental, update-only tier), a mixed drift of 2% updates, 1% deletes
  * and 1% inserts (Incremental, flags-join tier, replaying the update's
  * commit), compaction of those two commits, and a 45% update (Truncate).
  * The read-path operations (no-change, update, drift) write about 5% of
  * the table; the write-path ones (full reload, compaction, truncate)
  * rewrite all of it. The table is checked against its source after the
  * compaction (which folds the update and drift commits) and after the
  * truncate. */
final class SyncLifecycle(h: Harness, cacheRoot: Path, seed: Long, rows: Long,
    payloadBytes: Int) extends Workload {
  private val spark = h.spark
  val slots = Seq("op1" -> "sync_full_s", "op2" -> "sync_noop_s", "op3" -> "sync_update_s",
    "op4" -> "sync_drift_s", "op5" -> "compact_s", "op6" -> "sync_truncate_s")
  private def pct(p: Double): Long = math.round(rows * p / 100.0)
  private val steps = Seq(
    Gen.Step("v1", "v0", pct(5), 0, 0),
    Gen.Step("v2", "v1", pct(2), pct(1), pct(1)),
    Gen.Step("vT", "v2", pct(45), 0, 0))
  private val inputs = new SyncInputs(spark, cacheRoot, seed, rows, payloadBytes, steps)
  private val work = h.scratch.resolve("sync-pass")

  def sourceRows: Long = rows
  def sizes: Map[String, Any] = Map("rows" -> rows, "payload_bytes" -> payloadBytes,
    "version_rows" -> inputs.expected.map { case (v, cs) => v -> cs.head },
    "version_bytes" -> inputs.expected.keys.map(v => v -> FileTree.parquetSizes(
      Seq(Path.of(inputs.path(v)))).values.sum).toMap)

  def setup(): Unit = inputs.ensure()

  private def sync(r: SyncRunner, version: String, target: Path): SyncReport =
    r.runTable(r.TablePlan("LINEITEM", inputs.path(version), target.toString))

  /** Report ok, the expected mode and the expected number of pending
    * commits; with `version`, also the target's (RecId, SysRowVersion)
    * checksum read back through LakeTable.read equal to that source
    * version's. */
  private def verify(target: Path, commits: Int, version: Option[String])(
      report: SyncReport, mode: SyncMode): Option[String] =
    if (!report.ok) Some(s"report not ok: ${report.error.getOrElse("")}")
    else if (report.mode != mode) Some(s"mode ${report.mode}, expected $mode")
    else verifyTable(target, commits, version)

  private def verifyTable(target: Path, commits: Int, version: Option[String]): Option[String] = {
    val pending = LakeTable.pendingCommits(target.toString)
    if (pending != commits) Some(s"$pending pending commits, expected $commits")
    else version.flatMap { v =>
      val got = h.tracer.span("sync.LakeTable.read", "sync.LakeTable", "check")(
        Gen.keyChecksum(LakeTable.read(spark, target.toString)))
      if (got == inputs.expected(v)) None
      else Some(s"target checksum $got != source $v ${inputs.expected(v)}")
    }
  }

  def pass(): Unit = {
    FileTree.delete(work)
    val t = work.resolve("target")
    val r = new SyncRunner(spark, new SyncStateStore(work.resolve("state.json").toString))
    def syncOp(slot: String, what: String, version: String, mode: SyncMode, commits: Int,
        check: Boolean): Unit =
      h.op(slot, s"run.SyncRunner.runTable/$what", "run.SyncRunner", Seq(t))(
        sync(r, version, t))(verify(t, commits, if (check) Some(version) else None)(_, mode))
    syncOp("op1", "full", "v0", SyncMode.Standard, 0, check = false)
    syncOp("op2", "noop", "v0", SyncMode.Noop, 0, check = false)
    syncOp("op3", "update", "v1", SyncMode.Incremental, 1, check = false)
    syncOp("op4", "drift", "v2", SyncMode.Incremental, 2, check = false)
    h.op("op5", "sync.LakeTable.compact", "sync.LakeTable", Seq(t))(
      LakeTable.compact(spark, t.toString))(_ => verifyTable(t, 0, Some("v2")))
    syncOp("op6", "truncate", "vT", SyncMode.Truncate, 0, check = true)
    FileTree.delete(work)
  }
}

/** LLM-data operators over a generated corpus and embedding table, each
  * optimised operator next to the exact one it approximates or prunes:
  * prefix-filtered Jaccard dedup and MinHash-LSH against exact n-gram
  * Jaccard pairs, IVF top-k against brute-force top-k, and boilerplate
  * scoring. No lake writes: every result goes to the `noop` sink with
  * observed aggregates. The references they are compared with are
  * computed at set-up by the benchmark's own code ([[Reference]]) from the
  * collected inputs, never by the engine. */
final class LlmPipeline(h: Harness, cacheRoot: Path, seed: Long, docs: Long, dups: Long,
    vectors: Long) extends Workload {
  private val spark = h.spark
  import spark.implicits._
  val slots = Seq("op1" -> "dedup_s", "op2" -> "minhash_s", "op3" -> "ann_topk_s",
    "op4" -> "boilerplate_s", "op5" -> "exact_dedup_s", "op6" -> "exact_topk_s")
  val Dim = 64
  val Clusters = 8
  val Queries = 200
  val K = 10
  /** MinHash-LSH (4 bands x 4 rows) is approximate: its verified pairs must
    * be a subset of the exact pairs, with at least this recall. */
  val MinhashRecallFloor = 0.8
  /** IVF top-k recall against brute force at the commit that defined this
    * benchmark: the clusters are well separated, so it is exact. */
  val AnnRecallFloor = 1.0

  private val dir = cacheRoot.resolve(s"g${Gen.Version}-llm-s$seed-d$docs-u$dups-v$vectors")
  private val corpusPath = dir.resolve("corpus").toString
  private val vectorsPath = dir.resolve("embeddings").toString
  private val manifest = dir.resolve("manifest.tsv")

  def sourceRows: Long = docs + dups + vectors
  def sizes: Map[String, Any] = Map("docs" -> docs, "near_duplicates" -> dups,
    "vectors" -> vectors, "dim" -> Dim, "clusters" -> Clusters, "queries" -> Queries,
    "k" -> K, "exact_pairs" -> refPairs.size,
    "corpus_bytes" -> FileTree.parquetSizes(Seq(Path.of(corpusPath))).values.sum,
    "embedding_bytes" -> FileTree.parquetSizes(Seq(Path.of(vectorsPath))).values.sum)

  private def corpus: DataFrame = spark.read.parquet(corpusPath)
  private def prepared: DataFrame =
    Similarity.prepare(spark.read.parquet(vectorsPath), "vec_id", "embedding")
  private def queries: DataFrame = prepared.filter(col("vec_id").isin(queryIds: _*))

  private def chk(cols: Column*): Column =
    coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 33)), lit(0L))
  private def pairKey: Column =
    least(col("id_a"), col("id_b")) * 1000000L + greatest(col("id_a"), col("id_b"))
  private val boilerAggs = Seq(count(lit(1)), chk(col("doc_id"), col("n_units"), col("n_boiler")))
  private def topKAggs(rows: Column): Seq[Column] = Seq(
    coalesce(sum(when(rows, 1L)), lit(0L)),
    coalesce(sum(when(rows, shiftrightunsigned(
      xxhash64(col("query_id"), col("rank"), col("neighbor_id")), 33))), lit(0L)))
  private def inQueries: Column = col("query_id").isin(queryIds: _*)

  /** Runs `df` into the noop sink with the given observed aggregates. */
  private def observeNoop(df: DataFrame, aggs: Seq[Column]): Seq[Long] = {
    val obs = Observation(h.observationName())
    val named = aggs.zipWithIndex.map { case (a, i) => a.as(s"m$i") }
    df.observe(obs, named.head, named.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    named.indices.map(i => Option(m(s"m$i")).map(_.asInstanceOf[Number].longValue).getOrElse(0L))
  }
  private def aggregate(df: DataFrame, aggs: Seq[Column]): Seq[Long] = {
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    aggs.indices.map(r.getLong)
  }
  private def neighbourSet(topK: DataFrame): Set[(Long, Long)] =
    topK.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private val queryIds: Seq[Long] = {
    val p = Gen.perm(seed, 4, vectors)
    (0L until vectors).filter(i => Math.floorMod(p.a * i + p.b, vectors) < Queries)
  }
  private var refPairs: Set[Long] = Set.empty
  private var refTopK: Seq[Long] = Nil
  private var refBoiler: Seq[Long] = Nil
  private var refNeighbours: Set[(Long, Long)] = Set.empty

  private def inputChecksums: Seq[Long] =
    aggregate(corpus, Seq(count(lit(1)), chk(col("doc_id"), col("text")))) ++
      aggregate(spark.read.parquet(vectorsPath),
        Seq(count(lit(1)), chk(col("vec_id"), col("label"), col("embedding"))))

  /** Generates the inputs unless cached; cached inputs are re-read and
    * checked against their manifest instead. */
  private def ensure(): Unit = if (Files.exists(manifest)) {
    val sums = new String(Files.readAllBytes(manifest), UTF_8).trim.split("\t").map(_.toLong).toSeq
    require(inputChecksums == sums, "cached LLM inputs do not match their manifest")
  } else {
    FileTree.delete(dir)
    Gen.corpus(spark, seed, docs, dups).repartition(4).write.parquet(corpusPath)
    Gen.embeddings(spark, seed, vectors, Dim, Clusters, 0.05).repartition(4).write.parquet(vectorsPath)
    Files.write(manifest, inputChecksums.mkString("\t").getBytes(UTF_8))
  }

  /** Makes or checks the inputs, then computes the references from them:
    * exact 3-gram Jaccard pairs, 5-gram boilerplate counts and brute-force
    * cosine top-k of the query set. The aggregates the operators' outputs
    * are compared with are taken over the reference rows by the same
    * Spark expressions. */
  def setup(): Unit = {
    ensure()
    val texts = corpus.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val vecs = spark.read.parquet(vectorsPath).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq
    require(texts.size == docs + dups && vecs.size == vectors,
      s"input sizes ${texts.size} documents, ${vecs.size} vectors")
    refPairs = Reference.jaccardPairs(texts, 3, 0.5).map { case (a, b) => a * 1000000L + b }
    require(refPairs.size >= dups * 9 / 10, s"only ${refPairs.size} exact pairs for $dups near-duplicates")
    val topK = Reference.cosineTopK(vecs, queryIds, K, Similarity.QuantScale)((_, _) => true)
    refNeighbours = topK.map { case (q, _, n) => (q, n) }.toSet
    refTopK = aggregate(topK.toDF("query_id", "rank", "neighbor_id"), topKAggs(lit(true)))
    require(refTopK.head == Queries.toLong * K, s"brute-force rows ${refTopK.head}")
    refBoiler = aggregate(Reference.boilerplate(texts, 5, 2).toDF("doc_id", "n_units", "n_boiler"),
      boilerAggs)
  }

  def pass(): Unit = {
    val keys = refPairs.toSeq
    val pairAggs = Seq(count(lit(1)), coalesce(sum(when(pairKey.isin(keys: _*), 1L)), lit(0L)))
    def exactPairs(got: Seq[Long]): Option[String] = got match {
      case Seq(n, hits) if n == refPairs.size && hits == n => None
      case Seq(n, hits) => Some(s"$n pairs, $hits of them among the ${refPairs.size} exact pairs")
    }
    def sameAs(ref: Seq[Long])(got: Seq[Long]): Option[String] =
      if (got == ref) None else Some(s"aggregates $got != reference $ref")

    h.op("op1", "ext.Dedup.prefixRoutedJaccardPairs", "ext.Dedup")(observeNoop(
      Dedup.prefixRoutedJaccardPairs(corpus, "doc_id", "text", 3, 500), pairAggs))(exactPairs)
    h.op("op2", "ext.Dedup.minhashLshPairs", "ext.Dedup")(observeNoop(
      Dedup.minhashLshPairs(corpus, "doc_id", "text", 3, 0.5), pairAggs)) { case Seq(n, hits) =>
      val recall = n.toDouble / refPairs.size
      h.note("recall", recall)
      if (hits == n && recall >= MinhashRecallFloor) None
      else Some(s"$n pairs, $hits among the ${refPairs.size} exact pairs, recall $recall")
    }
    h.op("op3", "ext.Similarity.ivfTopK", "ext.Similarity")(observeNoop(
      Similarity.ivfTopK(prepared, K), topKAggs(inQueries))) { got =>
      // recall against brute force: exact when the aggregates agree,
      // otherwise recomputed from the collected neighbour sets
      val recall = if (got == refTopK) 1.0 else {
        val ivf = neighbourSet(Similarity.ivfTopK(prepared, K).filter(inQueries))
        (ivf & refNeighbours).size.toDouble / refNeighbours.size
      }
      h.note("recall", recall)
      if (recall >= AnnRecallFloor) None
      else Some(s"top-k recall $recall against brute force, below $AnnRecallFloor")
    }
    h.op("op4", "ext.CorpusAnalysis.boilerplateScore", "ext.CorpusAnalysis")(observeNoop(
      CorpusAnalysis.boilerplateScore(corpus, "doc_id", "text"), boilerAggs))(sameAs(refBoiler))
    h.op("op5", "ext.Dedup.ngramJaccardPairs", "ext.Dedup")(observeNoop(
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5), pairAggs))(exactPairs)
    h.op("op6", "ext.Similarity.bruteForceTopK", "ext.Similarity")(observeNoop(
      Similarity.bruteForceTopK(prepared, queries, K), topKAggs(lit(true))))(sameAs(refTopK))
  }
}
