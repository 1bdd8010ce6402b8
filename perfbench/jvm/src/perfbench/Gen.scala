package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed and
  * the row's identity, so the same seed gives the same inputs, and the seed
  * decides only WHICH rows change or duplicate — every count is fixed by the
  * size parameters. Bump [[Version]] whenever generated data changes: it
  * keys the on-disk input cache. */
object Gen {
  val Version = 2

  private def h(seed: Long, cols: Column*): Column = xxhash64((lit(seed) +: cols): _*)
  private def u(seed: Long, mod: Long, cols: Column*): Column = pmod(h(seed, cols: _*), lit(mod))

  /** An affine permutation x -> (a·x + b) mod n of [0, n), drawn from the
    * seed; `pick(x) < k` selects exactly k of the n positions. */
  final case class Perm(a: Long, b: Long, n: Long) {
    def apply(x: Column): Column = pmod(x * lit(a) + lit(b), lit(n))
  }
  def perm(seed: Long, salt: Int, n: Long): Perm = {
    val r = new scala.util.Random(seed * 1000003L + salt)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + (r.nextLong() & Long.MaxValue) % math.max(1L, n - 1)
    while (gcd(a, n) != 1) a += 1
    Perm(a, (r.nextLong() & Long.MaxValue) % n, n)
  }

  // ---- sync tables: lineitem-shaped rows keyed by (RecId, SysRowVersion) ----

  /** One change step of a sync table: `upd` rows get a new version, `del`
    * rows are deleted and `ins` new keys are appended. */
  final case class Step(name: String, parent: String, upd: Long, del: Long, ins: Long)

  /** Key frame (RecId, SysRowVersion) of a table version, in closed form.
    * The initial table has RecId 1..rows with versions in insert order. One
    * seeded permutation P of those rows gives every step of `steps` its own
    * disjoint slice of P (updates first, then deletes), and its inserts
    * their own RecId range after `rows`, so every count is exact and steps
    * never touch each other's rows. The version named `name` applies the
    * chain of steps from the initial table to it; step i's versions start at
    * (i + 1)·10^9, above every earlier one. */
  def syncKeys(spark: SparkSession, seed: Long, rows: Long, steps: Seq[Step],
      name: String): DataFrame = {
    val index = steps.map(_.name).zipWithIndex.toMap
    def chain(v: String): List[Int] =
      if (v == "v0") Nil else chain(steps(index(v)).parent) :+ index(v)
    val offsets = steps.scanLeft(0L)((o, s) => o + s.upd + s.del)
    val insOffsets = steps.scanLeft(rows)((o, s) => o + s.ins)
    val p = perm(seed, 5, rows)
    val pos = p(col("id"))
    val links = chain(name)
    val version = links.foldLeft(col("id") + 1) { (v, i) =>
      val o = offsets(i)
      when(pos >= o && pos < o + steps(i).upd, lit((i + 1) * 1000000000L) + pos - o).otherwise(v)
    }
    val deleted = links.map { i =>
      val o = offsets(i) + steps(i).upd
      pos >= o && pos < o + steps(i).del
    }.foldLeft(lit(false))(_ || _)
    val kept = spark.range(0, rows, 1, 4).filter(!deleted)
      .select((col("id") + 1).as("RecId"), version.as("SysRowVersion"))
    links.map { i =>
      spark.range(steps(i).ins).select((lit(insOffsets(i) + 1) + col("id")).as("RecId"),
        (lit((i + 1) * 1000000000L + steps(i).upd) + col("id")).as("SysRowVersion"))
    }.foldLeft(kept)(_ unionByName _)
  }

  /** All columns of a sync-table row, derived from its key and version: a
    * row whose version moves gets a new quantity, comment and payload. The
    * payload is `payloadBytes` of hex digest text (incompressible enough
    * that write volume tracks row count). Other key-frame columns are
    * carried through. */
  def syncRows(keys: DataFrame, seed: Long, payloadBytes: Int): DataFrame = {
    val k = col("RecId"); val v = col("SysRowVersion")
    val extra = keys.columns.filterNot(Set("RecId", "SysRowVersion")).map(col).toSeq
    val qty = (u(seed, 50, k, v, lit(3)) + 1).cast("double")
    val digests = (0 until math.max(1, payloadBytes / 64)).map(j => sha2(concat_ws(":", lit(seed), k, v, lit(j)), 256))
    keys.select(Seq(k, v,
      ((k - 1) / 4 + 1).cast("long").as("l_orderkey"),
      (u(seed, 20000, k, lit(1)) + 1).as("l_partkey"),
      (u(seed, 1000, k, lit(2)) + 1).as("l_suppkey"),
      (pmod(k - 1, lit(4)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (u(seed, 100000, k, lit(5)) / 100.0 + 900.0)).as("l_extendedprice"),
      (u(seed, 11, k, lit(6)) / 100.0).as("l_discount"),
      (u(seed, 9, k, lit(7)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(seed, 3, k, lit(8)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(seed, 2, k, lit(9)) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1992-01-01").cast("date"), u(seed, 2500, k, lit(10)).cast("int")).as("l_shipdate"),
      substring(sha2(concat_ws(":", lit(seed), k, v, lit("c")), 256), 1, 27).as("l_comment"),
      concat(digests: _*).as("payload")) ++ extra: _*)
  }

  /** Order-independent checksum of (RecId, SysRowVersion): row count plus
    * two independent hash sums. Equal sets of keys and versions give equal
    * checksums whatever the row order or file layout. */
  def keyChecksum(df: DataFrame): Seq[Long] =
    keyChecksums(df.withColumn("_all", lit("")), "_all").getOrElse("", Seq(0L, 0L, 0L))

  /** [[keyChecksum]] per value of `groupCol`. */
  def keyChecksums(df: DataFrame, groupCol: String): Map[String, Seq[Long]] =
    df.groupBy(groupCol).agg(count(lit(1)),
      coalesce(sum(shiftrightunsigned(xxhash64(col("RecId"), col("SysRowVersion")), 33)), lit(0L)),
      coalesce(sum(hash(col("RecId"), col("SysRowVersion")).cast("long")), lit(0L)))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  // ---- LLM-pipeline inputs: a corpus with injected near-duplicates, and
  // clustered embeddings ----

  private val Syllables = Seq("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "we",
    "ba", "de", "fo", "gi", "ha", "ju", "ke", "li", "mo", "ne")
  /** 400 two-syllable words. */
  val Vocab: Seq[String] = for (a <- Syllables; b <- Syllables) yield a + b
  /** Shared footer appended to a fixed share of documents: the boilerplate
    * the corpus analysis finds. */
  val Template: Seq[String] = Vocab.slice(40, 52)

  /** `base` random documents of 20-60 tokens (one tenth carry the
    * template footer) plus `dups` near-duplicates: copies of distinct base
    * documents with about 2% of tokens substituted. */
  def corpus(spark: SparkSession, seed: Long, base: Long, dups: Long): DataFrame = {
    val p = perm(seed, 1, base)
    val boiler = perm(seed, 2, base)
    val vocab = array(Vocab.map(lit): _*)
    val docs = spark.range(base + dups).select(
      col("id").as("doc_id"),
      when(col("id") < base, col("id")).otherwise(p(col("id") - base)).as("src"),
      (col("id") >= base).as("is_dup"))
    val v = Vocab.size
    val tokens = expr(s"transform(sequence(0, 19 + pmod(xxhash64(${seed}L, src, -1), 41)), t -> " +
      s"CASE WHEN is_dup AND pmod(xxhash64(${seed}L, doc_id, t, 8), 50) = 0 " +
      s"THEN element_at(vocab, cast(pmod(xxhash64(${seed}L, doc_id, t, 7), $v) + 1 AS INT)) " +
      s"ELSE element_at(vocab, cast(pmod(xxhash64(${seed}L, src, t), $v) + 1 AS INT)) END)")
    docs.withColumn("vocab", vocab)
      .withColumn("tokens", tokens)
      .withColumn("tokens", when(boiler(col("src")) < base / 10,
        concat(col("tokens"), array(Template.map(lit): _*))).otherwise(col("tokens")))
      .select(col("doc_id"), concat_ws(" ", col("tokens")).as("text"))
  }

  /** `n` vectors of dimension `dim` in `clusters` well-separated clusters of
    * exactly n / clusters members: each component is the cluster centroid's
    * component (uniform in [-1, 1]) plus noise of amplitude `noise`. The
    * cluster id is the `label` column the IVF search buckets on. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dim: Int, clusters: Int,
      noise: Double): DataFrame = {
    val p = perm(seed, 3, n)
    spark.range(n).select(col("id").as("vec_id"),
      pmod(p(col("id")), lit(clusters.toLong)).cast("int").as("label"))
      .withColumn("embedding", expr(s"transform(sequence(0, ${dim - 1}), d -> cast(" +
        s"(pmod(xxhash64(${seed}L, label, d, 11), 2000001) - 1000000) / 1000000.0 + " +
        s"$noise * (pmod(xxhash64(${seed}L, vec_id, d, 12), 2000001) - 1000000) / 1000000.0 AS FLOAT))"))
      .select("vec_id", "embedding", "label")
  }
}
