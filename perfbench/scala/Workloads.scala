package perfbench

import graft.datagen.{DataGen, DocGen}
import graft.features.{AggregatorStrategy, AutoStrategy, FeatureSpec}
import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times named sub-steps of an action. The traced run records each as a
  * span; the end-to-end run only calls the body.
  */
trait Probe {
  def phase[T](name: String)(body: => T): T
}

object Probe {
  val off: Probe = new Probe { def phase[T](name: String)(body: => T): T = body }
}

/** One timed operation of a workload. `group` is "main" or "alt": the
  * workload's two ways of producing its result, reported as `main_s` and
  * `alt_s`. `prepare` (untimed) clears the previous output; `run` is the
  * timed call into graft; `settle` (untimed) counts the output rows.
  * The last round's outputs are the ones checked.
  */
final case class Action(name: String, group: String,
    prepare: () => Unit, run: Probe => Unit, settle: () => Long)

/** A generated workload: its inputs are a function of the seed alone. */
trait Workload {
  def name: String
  /** Layer that writes the inputs, as named in the per-layer metrics. */
  def inputLayer: String
  def writeInputs(): Unit
  def actions: Seq[Action]
  /** Directory of the persisted output whose size is `output_mb`. */
  def outputDir: String
  /** Paths and facts the correctness check needs, as JSON fields. */
  def checkInfo: Map[String, String]
  /** Writes what the check reads and is not on disk yet (untimed). */
  def finish(): Unit = ()
}

object Workload {

  /** Input sizes. The reference tiny layout (6 partitions × 120 days) is
    * kept; its 1,000 customers are cut to 100, and the corpus is small, so
    * that set-up, warm-up, several timed rounds and the checks fit one run
    * of the benchmark.
    */
  val FsCustomers = 100L
  val DedupDocs = 2000L

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "fs_tiny" =>
        new FeatureStore(name, spark, DataGen.Config(FsCustomers, 6, 120, seed), work)
      case "dedup_ingest" => new DedupIngest(name, spark, DedupDocs, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
  }
}

/** The paper's query: one 2,080-feature Feature Store partition, built
  * from the generated transactions parquet by AutoStrategy ("main") and
  * by AggregatorStrategy, the fixed strategy Auto should route this input
  * to ("alt"), each written as 2,081-column parquet.
  */
final class FeatureStore(val name: String, spark: SparkSession,
    cfg: DataGen.Config, work: String) extends Workload {

  private val in = s"$work/in/transactions"
  private val auto = s"$work/out/auto"
  private val fixed = s"$work/out/aggregator"
  private val spec = FeatureSpec.reference

  def inputLayer: String = "datagen"

  def writeInputs(): Unit = DataGen.write(spark, cfg, in)

  def input: DataFrame = spark.read.parquet(in)

  private def build(act: String, group: String, out: String,
      strategy: DataFrame => DataFrame): Action =
    Action(act, group,
      prepare = () => Workload.delete(out),
      run = probe => {
        val store = probe.phase("plan")(strategy(input))
        probe.phase("execute")(store.write.parquet(out))
      },
      settle = () => spark.read.parquet(out).count())

  val actions: Seq[Action] = Seq(
    build("build", "main", auto, AutoStrategy(_, spec)),
    build("aggregator_build", "alt", fixed, AggregatorStrategy(_, spec)))

  def outputDir: String = auto

  def checkInfo: Map[String, String] = Map(
    "input" -> in, "auto" -> auto, "fixed" -> fixed,
    "expected_rows" -> DataGen.expectedRowCount(cfg).toString)
}

/** LLM-curation dedup over a DocGen corpus: a signature index built for
  * 90% of the documents and the other 10% ingested against it ("main",
  * the incremental path), next to MinHash pairs over the whole corpus
  * ("alt", the from-scratch path). No feature-store code runs.
  */
final class DedupIngest(val name: String, spark: SparkSession,
    nDocs: Long, seed: Long, work: String) extends Workload {

  private val corpus = s"$work/in/corpus"
  private val shard = s"$work/in/shard"
  private val index = s"$work/out/index"
  private val pairsOut = s"$work/check/pairs"
  private val keptOut = s"$work/check/kept"
  private var pairs: DataFrame = _
  private var kept: DataFrame = _
  private val probe = new RecallProbe(spark)
  private var probeSigs: Map[Long, Seq[Long]] = Map.empty

  def inputLayer: String = "docgen"

  def writeInputs(): Unit = {
    val docs = DocGen.docs(spark, nDocs, seed)
    val inShard = pmod(xxhash64(lit(seed), col("doc_id")), lit(10L)) === 0
    docs.filter(!inShard).write.mode("overwrite").parquet(corpus)
    docs.filter(inShard).write.mode("overwrite").parquet(shard)
  }

  /** The cached results graft returned in the latest round. Each stays
    * cached until the same action runs again, and the last ones are
    * written for the check by [[finish]].
    */
  private def release(df: DataFrame): Unit = if (df != null) df.unpersist(blocking = true)

  override def finish(): Unit = {
    if (pairs != null) pairs.select("id_a", "id_b", "jaccard").write.parquet(pairsOut)
    if (kept != null) kept.select("doc_id").write.parquet(keptOut)
    release(pairs)
    release(kept)
  }

  val actions: Seq[Action] = Seq(
    Action("pairs", "alt",
      prepare = () => release(pairs),
      run = _ => pairs = Dedup.minhashPairs(
        spark.read.parquet(corpus, shard), "doc_id", "text"),
      settle = () => pairs.count()),
    Action("index_build", "main",
      prepare = () => Workload.delete(index),
      run = _ => Dedup.signatureIndex(spark.read.parquet(corpus), "doc_id", "text")
        .write.parquet(index),
      settle = () => spark.read.parquet(index).count()),
    Action("ingest", "main",
      prepare = () => release(kept),
      run = _ => kept = Dedup.ingestFilter(
        spark.read.parquet(index), spark.read.parquet(shard), "doc_id", "text"),
      settle = () => kept.count()),
    Action("recall_probe", "probe",
      prepare = () => probe.docs,
      run = _ => probeSigs = probe.signatures(),
      settle = () => probe.check(probeSigs)))

  def outputDir: String = index

  def checkInfo: Map[String, String] = Map(
    "corpus" -> corpus, "shard" -> shard, "pairs" -> pairsOut, "kept" -> keptOut,
    "docs" -> nDocs.toString)
}

/** Planted-pair recall of the MinHash-LSH signature on a fixed DocGen
  * corpus (the same one every run, whatever its seed). DocGen plants
  * near-duplicates (10k, 10k+1). `minhashPairs` makes two documents a
  * candidate pair when they share one of its b bands of r signature rows;
  * with independent hash functions a pair of shingle Jaccard j does so
  * with probability 1 - (1 - j^r)^b. The probe signs the planted pairs
  * outside the boilerplate documents (where no band key is shared widely
  * enough for the mega-bucket guard to drop it) with `signatureIndex`, the
  * signature `minhashPairs` and the index share, and counts the pairs that
  * share no band. With an expectation of m such misses, more than
  * m + 5·sqrt(m) + 3 (a Poisson tail below 1e-8 for the small m here)
  * fail the operation.
  */
final class RecallProbe(spark: SparkSession) {
  import RecallProbe._

  /** (a, a + 1) planted pairs of Jaccard at least `MinJaccard`, with j. */
  private var planted: Seq[(Long, Double)] = Nil

  /** The planted pairs' documents, collected once from DocGen. */
  lazy val docs: DataFrame = {
    val texts = DocGen.docs(spark, Docs, Seed).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    planted = (0L until Docs - 1 by 10L).filter(_ % 100 >= 5).map { a =>
      val (x, y) = (shingles(texts(a)), shingles(texts(a + 1)))
      a -> (x & y).size.toDouble / (x | y).size
    }.filter(_._2 >= MinJaccard)
    import spark.implicits._
    planted.flatMap { case (a, _) => Seq(a -> texts(a), (a + 1) -> texts(a + 1)) }
      .toDF("doc_id", "text")
  }

  def signatures(): Map[Long, Seq[Long]] =
    Dedup.signatureIndex(docs, "doc_id", "text").select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Throws when too few planted pairs share a band; else returns how
    * many do.
    */
  def check(sigs: Map[Long, Seq[Long]]): Long = {
    val expectedMiss = planted.map { case (_, j) =>
      math.pow(1 - math.pow(j, RowsPerBand), Bands) }.sum
    val shared = planted.count { case (a, _) =>
      sigs(a).grouped(RowsPerBand).zip(sigs(a + 1).grouped(RowsPerBand)).exists { case (x, y) => x == y }
    }
    val missed = planted.length - shared
    if (missed > expectedMiss + 5 * math.sqrt(expectedMiss) + 3)
      throw new IllegalStateException(f"planted-pair recall: $missed of ${planted.length} pairs " +
        f"share no LSH band, the S-curve expects $expectedMiss%.2f")
    shared.toLong
  }
}

object RecallProbe {
  val Docs = 2000L
  val Seed = 42L
  /** `minhashPairs`' and `signatureIndex`'s defaults, restated. */
  private val Bands = 6
  private val RowsPerBand = 2
  private val MinJaccard = 0.5

  private def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    (0 until math.max(t.length - 2, 1)).map(i => t.slice(i, i + 3).mkString(" ")).toSet
  }
}
