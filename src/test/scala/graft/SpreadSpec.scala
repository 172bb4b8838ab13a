package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{CurationOps, Tables}

/** The spread decision ([[Tables.spread]]) at every site that makes it.
  * The sf0.001 fixture's tables are one parquet file each, so their scans
  * plan to one partition and every site spreads; a multi-file copy of the
  * same rows ([[graft.tools.ScaleProbe.writeDerived]] at factor 1) scans
  * as several partitions, and no site spreads it again. Either way each
  * query returns the same rows.
  */
class SpreadSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val tables =
    Seq("documents", "embeddings", "events", "lineitem", "orders", "customer")

  private def target: Int = spark.sessionState.conf.numShufflePartitions

  // twice the shuffle partitions in files: Spark packs small files two to a
  // split at this size, so the copy's scans plan to at least that many
  private lazy val multiRoot: Path = Files.createTempDirectory("graft-spread")
  private lazy val multi: String = {
    graft.tools.ScaleProbe.writeDerived(spark, dir, multiRoot.toString,
      tables, factor = 1, files = 2 * target)
    multiRoot.toString
  }

  override def afterAll(): Unit = {
    if (Files.exists(multiRoot)) {
      val walk = Files.walk(multiRoot)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** One query per spread site, with the key the site spreads on. */
  private val sites: Seq[(String, Seq[String])] = Seq(
    "text_quality" -> Seq("doc_id"),            // TextOps.textQuality
    "gopher_rules" -> Seq("doc_id"),            // TextOps.gopherRules
    "token_count" -> Seq("doc_id"),             // TextOps.tokenCount
    "text_repetition" -> Seq("doc_id"),         // TextOps.textRepetition
    "contamination_check" -> Seq("doc_id"),     // TextOps.contaminationCheck
    "bpe_pair_stats" -> Seq("doc_id"),          // TextOps.bpeWordFreq
    "char_entropy" -> Seq("doc_id"),            // TextOps.charEntropy
    "bigram_lm_score" -> Seq("doc_id"),         // TextOps.bigramLmScore
    "domain_reweight" -> Seq("doc_id"),         // CurationOps.domainReweight
    "dsir_weights" -> Seq("doc_id"),            // CurationOps.dsirBucketsFor
    "perplexity_filter" -> Seq("doc_id"),       // CurationOps.pplBagsFor
    "hll_estimate" -> Seq("l_suppkey"),         // SketchOps.hllEstimate
    "countmin_est" -> Seq("user_id"),           // SketchOps.countminEst
    "cms_join_card" -> Seq("o_custkey", "c_custkey"), // SketchOps.cmsJoinCard
    "winnow_fingerprint" -> Seq("doc_id"),      // WinnowOps.shingleHashRows
    "dedup_ngram_jaccard" -> Seq("doc_id"),     // DedupOps.tokenizedDocs
    "dedup_containment" -> Seq("doc_id"),       // DedupOps.dedupContainmentFrom
    "duplicate_spans" -> Seq("doc_id"),         // DedupOps.duplicateSpans
    "minhash_estimate_error" -> Seq("doc_id"),  // DedupOps.minhashEstimateError
    "dedup_span_remove" -> Seq("doc_id"),       // DedupOps.dedupSpanRemoveFrom
    "nb_source_classify" -> Seq("doc_id"),      // ModelOps.nbPredictions
    "ann_hubness" -> Seq("vec_id"))             // SimilarityOps.annHubness

  /** Every node of a physical plan, through the AQE wrappers that are
    * leaves to a plain collect.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** The columns that REPARTITION_BY_NUM exchanges in `plans` hash on. */
  private def spreadKeys(plans: Seq[SparkPlan]): Set[String] =
    plans.flatMap(nodes).collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning match {
          case HashPartitioning(Seq(a: AttributeReference), _) => a.name
          case other => other.toString
        }
    }.toSet

  /** `build`'s rows, sorted, and the physical plans of every execution
    * that building and collecting it ran (eager checkpoints included, so a
    * spread under a checkpoint is seen too).
    */
  private def run(build: => DataFrame): (Seq[String], Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val rows = try {
      val rows = build.collect().map(_.toString).sorted.toSeq
      // the listener runs on the bus: a marker execution seen means every
      // earlier one was
      val marker = spark.range(1).toDF()
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!plans.contains(marker.queryExecution) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(plans.contains(marker.queryExecution), "listener never delivered")
      plans.remove(marker.queryExecution)
      rows
    } finally spark.listenerManager.unregister(listener)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    import scala.jdk.CollectionConverters._
    (rows, plans.asScala.toSeq.map(_.executedPlan))
  }

  private def md5(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The site's spread exchange is on the single-file plans and not on the
    * multi-file ones, and both return the same rows.
    */
  private def checkSite(name: String, keys: Seq[String])(
      build: String => DataFrame): Unit = {
    val (oneRows, onePlans) = run(build(dir))
    val (manyRows, manyPlans) = run(build(multi))
    val oneKeys = spreadKeys(onePlans); val manyKeys = spreadKeys(manyPlans)
    keys.foreach { k =>
      assert(oneKeys(k), s"$name: no spread on $k over one-file tables ($oneKeys)")
      assert(!manyKeys(k), s"$name: spread on $k over multi-file tables")
    }
    assert(oneRows.nonEmpty, s"$name returned no rows")
    assert(md5(manyRows) == md5(oneRows),
      s"$name: multi-file result differs from the one-file result")
  }

  test("the multi-file copy's scans plan to the shuffle partitions, the fixture's to one") {
    for (t <- tables) {
      assert(Tables.plannedPartitions(Tables(spark, dir, t)) == Some(1), t)
      val many = Tables.plannedPartitions(Tables(spark, multi, t))
      assert(many.exists(_ >= target), s"$t plans to $many partitions")
    }
  }

  test("the decision reads the plan and runs no job") {
    val docs = Tables(spark, dir, "documents")
    val copy = Tables(spark, multi, "documents")
    // a frame behind an exchange: AQE wraps it, and its count is the
    // exchange's
    val grouped = docs.groupBy("source").count()
    assert(grouped.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    var out: Seq[DataFrame] = Nil
    val work = SparkWork.of(spark) {
      out = Seq(Tables.spread(docs, col("doc_id")),
        Tables.spread(copy, col("doc_id")),
        Tables.spread(grouped, col("source")))
    }
    assert(work.jobs == 0, s"${work.jobs} jobs")
    val Seq(spreadDocs, spreadCopy, spreadGrouped) = out
    assert(!(spreadDocs eq docs))
    assert(Tables.plannedPartitions(spreadDocs) == Some(target))
    assert(spreadCopy eq copy)
    assert(spreadGrouped eq grouped)
  }

  for ((name, keys) <- sites) {
    test(s"$name spreads the one-file scan, not the multi-file one, same rows") {
      checkSite(name, keys)(SparkEntry.queries(name)(spark, _))
    }
  }

  test("dsirBucketsFor and pplBagsFor called directly") {
    checkSite("dsirBucketsFor", Seq("doc_id"))(d =>
      CurationOps.dsirBucketsFor(Tables(spark, d, "documents")))
    checkSite("pplBagsFor", Seq("doc_id"))(d =>
      CurationOps.pplBagsFor(Tables(spark, d, "documents")))
  }
}
