package graft

/** Pins the persist/unpersist discipline (Caches.scope): after a scoped
  * run of any registry query, the SparkContext holds NO persisted RDDs
  * beyond what existed before the run — neither `persist`ed frames nor
  * `localCheckpoint` backings (both registered with the scope through
  * `Caches.scoped` / `Caches.checkpointed`). A long-lived session
  * embedding the registry must not depend on a harness-side
  * `clearCache()` to stay bounded.
  *
  * The query list covers every persist- or checkpoint-taking builder
  * family: LSH/n-gram dedup, BSP connected components (checkpointing),
  * the IVF/PQ/SRP similarity stack, CSLS, the iterative graph rounds
  * (checkpointing), BM25, BPE training (checkpointing), audio VAD, the
  * corpus pipeline, the flagship join pipeline, and the serve rows
  * whose prepare builds those families inside the query's scope.
  */
class CacheScopeSpec extends SparkSpec {

  private val covered = Seq(
    "x06_dedup_minhash_lsh",  // DedupQueries: lshSigs/bands persists
    "x08_ngram_jaccard",      // DedupQueries: shingle df persists
    "x14_dedup_clusters",     // Components BSP: persists + checkpoints
    "x14s_clusters_serve",    // AuditServe prepare: BSP checkpoints
    "x42_cluster_canonical",  // Components BSP over LSH candidates
    "x12_ann_ivf_search",     // SimilarityQueries: corpus/centroids/assignment
    "x41_embed_dedup_clusters", // bucket-local union-find chain
    "x87_csls_rescore",       // pair-table persist
    "x81_pq_codebooks",       // PqQueries persists
    "x89_srp_lsh_ann",        // SrpQueries band-key persist
    "x46_part_pagerank",      // GraphQueries: persists + localCheckpoints
    "x61_label_communities",  // label rounds + lazy node checkpoint
    "x61s_communities_serve", // GraphServe prepare + label rounds
    "x65_bm25_rank",          // PipelineQueries persists
    "x91_bpe_train",          // BpeQueries: driver-side trainer
    "x92_bpe_fertility",      // BPE training under the fertility audit
    "x97_unigram_train",      // UnigramQueries: driver-side trainer
    "x99_ivf_coarse_route",   // two-level router: fine + coarse persists
    "x46s_pagerank_serve",    // GraphServe transition persist + rounds
    "x65s_bm25_serve",        // postings persist
    "mm03_phash_neardup",     // rebuilt banded-Hamming join
    "mm04_audio_vad",         // Multimodal window persist
    "corpus_curate",          // corpus pipeline
    "loan_detail")            // flagship joins

  private def newRdds(before: Set[Int]) =
    spark.sparkContext.getPersistentRDDs.filter { case (id, _) =>
      !before.contains(id) }

  private def describe(
      rdds: scala.collection.Map[Int, org.apache.spark.rdd.RDD[_]]) =
    rdds.map { case (id, r) => s"$id:$r" }.mkString(", ")

  test("scoped runs leave zero new persisted RDDs behind") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (name <- covered) {
      val n = Graft.runScoped(name, spark, sf)(_.count())
      assert(n > 0, s"$name returned no rows")
      val leaked = newRdds(before)
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} persisted RDDs: " + describe(leaked))
    }
  }

  test("a closing scope releases its own blocks at once, not a " +
      "concurrent scope's") {
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // Scope B opens, persists AND checkpoints, then parks at a barrier
    // while scope A (a full checkpoint-taking query) opens and closes on
    // this thread. A's close must release every block A took, and none
    // of B's: B's later read of its checkpoint would otherwise die with
    // missing-checkpoint-block errors (its lineage is truncated).
    val bReady = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.CountDownLatch(1)
    @volatile var bSum = -1L
    val bThread = new Thread(() =>
      Caches.scope(spark) {
        import spark.implicits._
        val mid = spark.range(0, 10000).map(_ + 1).toDF("v")
          .transform(Caches.scoped)
        mid.count() // materialize the persist
        val ck = Caches.checkpointed(mid)
        bReady.countDown()
        aDone.await()
        // reads AFTER a's scope closed must still be served
        bSum = ck.selectExpr("sum(v)").collect()(0).getLong(0)
      })
    bThread.start()
    bReady.await()
    val withB = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert((withB -- before).size == 2, "B holds its persist + checkpoint")
    Graft.runScoped("x46_part_pagerank", spark, sf)(_.count())
    // A closed while B is still open: A's blocks are already gone
    val aLeft = newRdds(withB)
    val bNow = spark.sparkContext.getPersistentRDDs.keySet.toSet
    aDone.countDown()
    bThread.join()
    assert(aLeft.isEmpty,
      s"A's close left ${aLeft.size} RDDs while B was open: " +
        describe(aLeft))
    assert(withB.subsetOf(bNow), "A's close released B's blocks")
    assert(bSum == 10000L * 10001L / 2, s"B read wrong sum $bSum")
    val leaked = newRdds(before)
    assert(leaked.isEmpty,
      s"B's close left ${leaked.size} RDDs: " + describe(leaked))
  }

  test("a serve prepare inside a scope keeps the enclosing scope's " +
      "caches") {
    import java.nio.file.{Files, Paths}
    spark.catalog.clearCache()
    operators.GraphServe.prepare(spark, sf) // the root exists
    val marker = Paths.get(operators.GraphServe.root(sf) + "/_READY")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val kept = Caches.scope(spark) {
      import spark.implicits._
      val mine = spark.range(0, 1000).map(_ * 3).toDF("v")
        .transform(Caches.scoped)
      mine.count()
      Files.writeString(marker, "") // an empty marker forces a rebuild
      operators.GraphServe.prepare(spark, sf)
      assert(Files.size(marker) > 0, "prepare did not rebuild")
      mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    }
    assert(kept, "the rebuild dropped the enclosing scope's cached frame")
    val leaked = newRdds(before)
    assert(leaked.isEmpty,
      s"the outer close left ${leaked.size} RDDs: " + describe(leaked))
  }

  test("a nested scope caching an equal plan keeps the outer scope's " +
      "cache") {
    import org.apache.spark.storage.StorageLevel
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def plan = spark.range(0, 1000).selectExpr("id * 7 AS v")
    val df = plan
    val heldInside = Caches.scope(spark) {
      df.transform(Caches.scoped).count()
      // an equal plan: persist would be a no-op, so the inner scope must
      // not take over (and drop) the outer scope's entry
      Caches.scope(spark)(plan.transform(Caches.scoped).count())
      df.storageLevel
    }
    assert(heldInside != StorageLevel.NONE,
      "the inner scope's close dropped the outer scope's cache")
    assert(df.storageLevel == StorageLevel.NONE,
      "the outer scope's close kept its cache")
    val leaked = newRdds(before)
    assert(leaked.isEmpty,
      s"the outer close left ${leaked.size} RDDs: " + describe(leaked))
  }

  test("only Caches persists or checkpoints in src/main") {
    // every other site must go through Caches.scoped / checkpointed so
    // its scope releases it; the one exception releases itself
    val allowed = Set(
      "sources/Sinks.scala" -> "batch.persist()") // foreachBatch, finally
    val call = raw"\.(localCheckpoint|persist)\(|\.cache\(\)".r
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"no sources at ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = for {
      f <- files(root)
      rel = root.toPath.relativize(f.toPath).toString
      if rel != "Caches.scala"
      (line, n) <- java.nio.file.Files.readString(f.toPath)
        .split("\n").toSeq.zipWithIndex
      if !line.trim.startsWith("*") && !line.trim.startsWith("/*")
      stmt = line.split("//", 2)(0).trim
      if call.findFirstIn(stmt).isDefined && !allowed((rel, stmt))
    } yield s"$rel:${n + 1}: $stmt"
    assert(offenders.isEmpty,
      "persist/checkpoint outside Caches:\n" + offenders.mkString("\n"))
  }

  test("an unscoped run still caches (ad-hoc use keeps its caches), " +
      "and clearCache remains the manual lever") {
    spark.catalog.clearCache()
    Graft.run("x06_dedup_minhash_lsh", spark, sf).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the unscoped run to keep its caches")
    spark.catalog.clearCache()
  }
}
