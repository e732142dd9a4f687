package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, KMeans, Retrieval, Similarity, TextStats}

/** LLM corpus curation: quality filter → exact + MinHash-LSH dedup →
  * semantic dedup → kNN quality labels → BM25 decontamination → curated
  * shards, one call per `ext` layer. */
final class Curation(dir: File, seed: Long, size: CurationGen.Size) extends Workload {
  private val in = new File(dir, "corpus")
  private val store = new File(dir, "store/embeddings").getPath
  private val out = new File(dir, "out")
  val truth: CurationGen.Truth = CurationGen.generate(in, seed, size)

  // operator settings: 3-word shingles, 64 MinHashes in 32 bands of 2
  private val NGram = 3
  private val Hashes = 64
  private val Bands = 32
  private val Jaccard = 0.6
  private val MinQuality = 0.5
  private val SemThreshold = 0.98
  private val K = 10
  private val Centroids = 32
  private val Probe = 4
  private val KmeansIters = 1

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val querySchema = StructType(Seq(StructField("query_id", LongType), StructField("text", StringType)))
  private val embSchema = StructType(Seq(StructField("vec_id", LongType), StructField("seed", BooleanType),
    StructField("label", StringType), StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private var firstKept: Option[Seq[Long]] = None

  /** Pre-built state: the embedding store, loaded from the landed JSON
    * lines into parquet (embeddings are computed ahead of curation). */
  def prepare(spark: SparkSession): Unit =
    spark.read.schema(embSchema).json(new File(in, "embeddings").getPath)
      .write.mode("overwrite").parquet(store)

  def pass(spark: SparkSession, tr: Tracer): PassOut = {
    Files2.deleteTree(out)
    val t0 = tr.now
    var dedupOut: DataFrame = null
    tr.span("batch") {
      val filtered = tr.layer("ext.textstats") {
        val docs = spark.read.schema(docSchema).json(new File(in, "docs").getPath)
        val norm = docs.select(col("doc_id"), TextStats.normalizeText(col("text")).as("text"))
        tr.cut(norm
          .withColumn("quality", TextStats.qualityScore(col("text")))
          .filter(col("quality") >= MinQuality)
          .withColumn("fp", TextStats.fingerprint(col("text"))))
      }
      val deduped = tr.layer("ext.dedup") {
        val firstPerFp = filtered.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        val exact = tr.cut(filtered.join(firstPerFp, Seq("fp", "doc_id")).select("doc_id", "text"))
        val pairs = Dedup.minhashNearDupPairs(exact, NGram, Hashes, Bands, Hashes / Bands, Jaccard)
        val kept = tr.cut(Dedup.dedupDocuments(exact, pairs))
        tr.untimed {
          if (tr.traced) {
            val cand = Dedup.minhashNearDupCandidates(exact, NGram, Hashes, Bands, Hashes / Bands).count()
            tr.count("ext.dedup.candidate_pairs", cand.toDouble)
            tr.count("ext.dedup.verified_pairs", pairs.count().toDouble)
          }
        }
        kept
      }
      dedupOut = deduped
      val labeled = tr.layer("ext.similarity") {
        val emb = spark.read.parquet(store)
          .join(deduped.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        val sem = Similarity.semanticDedup(emb.select("vec_id", "embedding"), Centroids, SemThreshold)
        val semKept = emb.join(sem.filter(col("kept") === 1).select("vec_id"), Seq("vec_id"), "left_semi")
        val seeds = semKept.filter(col("seed")).select("vec_id", "embedding", "label")
        val unlabeled = semKept.filter(!col("seed")).select("vec_id", "embedding")
        val preds = Similarity.knnClassifyIvf(seeds, unlabeled, K, Centroids, Probe, KmeansIters)
        val removed = sem.filter(col("kept") === 0).select("vec_id")
          .union(preds.filter(col("pred_label") === "lq").select("vec_id"))
        val out = tr.cut(deduped.join(removed.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left_anti"))
        tr.untimed {
          if (tr.traced) tr.count("ext.similarity.candidates_per_query", candidatesPerQuery(seeds, unlabeled))
        }
        out
      }
      val curated = tr.layer("ext.retrieval") {
        val queries = spark.read.schema(querySchema).json(new File(in, "queries").getPath)
        val hits = Retrieval.bm25TopK(labeled, queries, 1).select("doc_id")
        val clean = labeled.join(hits, Seq("doc_id"), "left_anti")
        tr.plan(clean)
        clean.repartition(4).write.parquet(new File(out, "curated").getPath)
        tr.untimed {
          if (tr.traced) tr.count("ext.retrieval.postings_rows", Retrieval.postings(labeled).count().toDouble)
        }
      }
      curated
    }
    val ns = tr.now - t0
    tr.untimed(if (tr.checks) checks(spark, tr, dedupOut, ns) else PassOut(ns, Seq(ns), truth.docs, truth.inputBytes, truth.inputBytes, 0L, 0L, 1.0))
  }

  /** Mean IVF candidates scored per query: the sizes of its `Probe`
    * nearest lists under the quantizer the classifier fits. */
  private def candidatesPerQuery(seeds: DataFrame, unlabeled: DataFrame): Double = {
    val cs = KMeans.fit(seeds, "vec_id", "embedding", Centroids, KmeansIters)
    val lists = Similarity.ivfAssignments(seeds, cs).groupBy("centroid_id").agg(count(lit(1)).as("n"))
    val probed = unlabeled.select(explode(graft.plans.NearestCentroidsExpr.nearestCentroids(
      col("embedding"), cs, Probe)).as("centroid_id"))
    val r = probed.join(lists, Seq("centroid_id")).agg(sum(col("n")), lit(0)).head()
    val q = unlabeled.count()
    if (q == 0 || r.isNullAt(0)) 0.0 else r.getLong(0).toDouble / q
  }

  private def checks(spark: SparkSession, tr: Tracer, deduped: DataFrame, ns: Long): PassOut = {
    val curated = spark.read.parquet(new File(out, "curated").getPath)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val keptSet = curated.toSet
    val dedupSet = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    val dupKept = truth.exactFamilies.filter(_.count(dedupSet) > 1)
    tr.check("exact_duplicates_removed", dupKept.isEmpty,
      s"${dupKept.size} families keep more than one member, e.g. ${dupKept.take(2)}")
    tr.check("low_quality_removed", !truth.lowQuality.exists(keptSet))
    tr.check("contaminated_removed", !truth.contaminated.exists(keptSet),
      s"${truth.contaminated.count(keptSet)} contaminated documents kept")
    firstKept match {
      case None => firstKept = Some(curated)
      case Some(k) => tr.check("kept_set_repeats", k == curated, "kept set differs between passes")
    }
    val removedPairs = truth.nearPairs.count { case (a, b) => !(dedupSet(a) && dedupSet(b)) }
    val live = Files2.listing(out).values.map(_._1).sum
    PassOut(ns, Seq(ns), truth.docs, truth.inputBytes, truth.inputBytes, live, live,
      if (truth.nearPairs.isEmpty) 1.0 else removedPairs.toDouble / truth.nearPairs.size)
  }

  /** Kept-set digest, printed so separate runs with one seed can be compared. */
  def keptDigest: String = firstKept.map(k =>
    java.security.MessageDigest.getInstance("SHA-256").digest(k.mkString(",").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString).getOrElse("none")

  /** recall@10 of the classifier's IVF configuration against exact
    * search, over a fixed sample of unlabeled vectors. */
  def annRecall(spark: SparkSession): Double = {
    val emb = spark.read.parquet(store)
    val seeds = emb.filter(col("seed")).select("vec_id", "embedding")
    val queries = emb.filter(!col("seed") && col("vec_id") % 37 === 0).select("vec_id", "embedding")
    val r = Similarity.annRecallAtK(seeds, queries, K, Centroids, Probe, KmeansIters)
      .agg(avg(col("recall"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
}
