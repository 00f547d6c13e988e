package graft.learn

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end learned-settings dedupe: train (set-cover blocking + CV'd LR)
  * then partition (block → score → cluster) — the reference's
  * `prepare_training → train → partition` loop (`api.py:1100-1195,151-195`)
  * closed on Spark. */
class TrainedDedupeSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  // 12 entities, each with 2-3 name variants sharing their first token;
  // first tokens are unique across entities
  private val entities: Seq[Seq[String]] = (0 until 12).map { e =>
    val base = s"entity$e surname$e street"
    Seq(base, base + " apt", s"entity$e surname$e road")
  }

  private def recordsDf = {
    val rows = entities.flatten.zipWithIndex.map { case (f, i) => (i.toLong, f) }
    rows.toDF("rid", "f")
  }

  private def labeledDf = {
    // positives: BOTH variant shapes of the first 6 entities (the suffix
    // dup at token-jaccard 0.75 and the last-token swap at 0.5 — training
    // must represent every match shape partition should find, exactly as a
    // reference user labels both); negatives: cross-entity pairs
    val pos = entities.take(6).flatMap(v => Seq((v(0), v(1), 1), (v(0), v(2), 1)))
    val neg = (0 until 6).map(e => (entities(e).head, entities(e + 6).head, 0))
    (pos ++ neg).zipWithIndex
      .map { case ((a, b, l), i) => (i.toLong, a, b, l) }
      .toDF("pair_id", "f1", "f2", "label")
  }

  test("train learns predicates + classifier; partition clusters entities") {
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    assert(settings.predicates.nonEmpty)
    assert(LogisticRegression.DefaultCGrid.contains(settings.c))

    val out = TrainedDedupe.partition(recordsDf, settings)
    val byRid = out.select($"rid", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(byRid.size == entities.flatten.size, "every record surfaces exactly once")

    // variants of each entity must co-cluster; different entities separate
    val ridOf = entities.flatten.zipWithIndex.map { case (f, i) => f -> i.toLong }.toMap
    entities.foreach { v =>
      val cids = v.map(f => byRid(ridOf(f))).distinct
      assert(cids.size == 1, s"entity variants split: $v -> $cids")
    }
    val clusterIds = entities.map(v => byRid(ridOf(v.head)))
    assert(clusterIds.distinct.size == entities.size,
      "different entities merged into one cluster")
  }

  test("partition releases the blocking caches it creates") {
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    TrainedDedupe.partition(recordsDf, settings).collect()
    // the components stage's local checkpoint is only weakly held: it leaves
    // the map once garbage-collected, unlike a cache nobody unpersisted
    def added = sc.getPersistentRDDs.keySet -- before
    var tries = 0
    while (added.nonEmpty && tries < 20) {
      System.gc(); Thread.sleep(100); tries += 1
    }
    assert(added.isEmpty, s"persistent RDDs left behind: ${added.toSeq.sorted}")
  }

  test("trained loop is deterministic end to end") {
    val s1 = TrainedDedupe.train(labeledDf, recordsDf)
    val s2 = TrainedDedupe.train(labeledDf, recordsDf)
    assert(s1.predicates === s2.predicates)
    assert(s1.c === s2.c)
    assert(java.util.Arrays.equals(s1.model.weights, s2.model.weights))
    val p1 = TrainedDedupe.partition(recordsDf, s1)
      .as[(Long, Long, Double)].collect().toSet
    val p2 = TrainedDedupe.partition(recordsDf.repartition(7), s2)
      .as[(Long, Long, Double)].collect().toSet
    assert(p1 === p2, "partition output must not depend on input partitioning")
  }

  test("link: learned-settings RecordLink.join — greedy one-to-one above threshold") {
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    val left = entities.indices.map(e => (e.toLong, entities(e).head)).toDF("rid", "f")
    // right side: the 'apt' variant for the first 10 entities only
    val right = (0 until 10).map(e => (100L + e, entities(e)(1))).toDF("rid", "f")
    val links = TrainedDedupe.link(left, right, settings)
      .as[(Long, Long, Double)].collect()
    // one-to-one: each matched left/right id appears at most once
    assert(links.map(_._1).distinct.length == links.length)
    assert(links.map(_._2).distinct.length == links.length)
    // the 10 true variant pairs all link, entities 10/11 have no right side
    assert(links.map(l => (l._1, l._2)).toSet ===
      (0 until 10).map(e => (e.toLong, 100L + e)).toSet)
  }

  test("search: learned-settings Gazetteer.search with empty-fill") {
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    val index = entities.indices.map(e => (e.toLong, entities(e).head)).toDF("rid", "f")
    val queries = Seq(
      (1000L, entities(3)(1)), // variant of entity 3 -> matches 3
      (1001L, "totally novel text zzz")) // novel -> empty-fill row
      .toDF("rid", "f")
    val res = TrainedDedupe.search(queries, index, settings)
      .select($"query_rid", $"match_rid").as[(Long, Option[Long])].collect().toMap
    assert(res.size == 2, "every query surfaces exactly once (empty-fill)")
    assert(res(1000L).contains(3L))
    assert(res(1001L).isEmpty, "novel query must surface with a null match")
  }

  test("settings file round trip is bit-exact (StaticDedupe workflow, api.py:1036-1067,1218-1233)") {
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    val path = java.nio.file.Files.createTempDirectory("graft-settings").toString + "/settings.json"
    TrainedDedupe.writeSettings(spark, path, settings)
    val back = TrainedDedupe.readSettings(spark, path)
    assert(back.rules === settings.rules)
    assert(java.util.Arrays.equals(back.model.weights, settings.model.weights),
      "weights must round-trip bit-exactly (hex float encoding)")
    assert(back.model.intercept === settings.model.intercept)
    assert(back.c === settings.c)
    // partitioning under reloaded settings is byte-identical to fresh ones
    val p1 = TrainedDedupe.partition(recordsDf, settings)
      .as[(Long, Long, Double)].collect().toSet
    val p2 = TrainedDedupe.partition(recordsDf, back)
      .as[(Long, Long, Double)].collect().toSet
    assert(p1 === p2)
  }

  test("trained streaming gazetteer: batch-1 records index, batch-2 variants match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val settings = TrainedDedupe.train(labeledDf, recordsDf)
    val dir = java.nio.file.Files.createTempDirectory("graft-tgaz").toString + "/idx"
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.TrainedGazetteerStream.run(
      mem.toDF().toDF("rid", "f"), dir, settings) { r =>
      results ++= r.select($"query_rid", $"match_rid")
        .as[(Long, Option[Long])].collect()
    }
    try {
      // batch 1: two canonical records — nothing indexed yet, both empty-fill
      mem.addData((1L, entities(0).head), (2L, entities(1).head))
      q.processAllAvailable()
      assert(results.toSet === Set((1L, None), (2L, None)))
      // batch 2: a variant of record 1 + a novel record
      results.clear()
      mem.addData((3L, entities(0)(1)), (4L, "never seen before zz"))
      q.processAllAvailable()
      assert(results.toMap === Map(3L -> Some(1L), 4L -> None),
        s"variant must match the batch-1 canonical: ${results.toList}")
      // batch-2's novel record was indexed too
      val idx = graft.io.TableIO.read(spark, dir).select($"rid").as[Long].collect().toSet
      assert(idx === Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("blockPairs respects the hot-key cap (skew rule holds under learned predicates)") {
    // a degenerate corpus where one first-token key covers everything:
    // the learned-predicate pair generation must stay bounded by the cap,
    // not go quadratic
    val many = (0 until 300).map(i => (i.toLong, s"same first$i tail")).toDF("rid", "f")
    val cfg = graft.dedup.DedupConfig(hotKeyMin = 10, hotKeyFrac = 0.0, hotKeyAbsCap = 10)
    val pairs = TrainedDedupe.blockPairs(many,
      Vector("(firstTokenPredicate, f)"), PredicateZoo.stringPredicates("f"), cfg)
    assert(pairs.count() == 0L, "the all-covering key must be dropped by the cap")
  }
  test("ActiveLearner facade: the uncertain_pairs/mark_pairs API replays the loop") {
    val all = entities.flatten
    val pool = (for {
      i <- all.indices; j <- (i + 1) to math.min(i + 3, all.size - 1)
    } yield (i.toLong, j.toLong)).toDF("id_a", "id_b")
    def session(): ActiveLearner = {
      val al = new ActiveLearner(recordsDf, pool)
      al.markPair(0L, 1L, 1); al.markPair(0L, 3L, 0)
      al.markPair(9L, 10L, 1); al.markPair(9L, 30L, 0)
      al
    }
    val al = session()
    var asked = Vector.empty[(Long, Long)]
    for (_ <- 0 until 3) {
      val Seq(q) = al.uncertainPairs(1)
      asked :+= q
      al.markPair(q._1, q._2, if (q._1 / 3 == q._2 / 3) 1 else 0)
    }
    assert(asked.distinct.size === 3, s"repeat query: $asked")
    assert(al.labeledCount._1 + al.labeledCount._2 === 7)
    // the protocol is deterministic across sessions
    val al2 = session()
    var asked2 = Vector.empty[(Long, Long)]
    for (_ <- 0 until 3) {
      val Seq(q) = al2.uncertainPairs(1)
      asked2 :+= q
      al2.markPair(q._1, q._2, if (q._1 / 3 == q._2 / 3) 1 else 0)
    }
    assert(asked2 === asked)
    // the final settings train and partition cleanly
    val out = TrainedDedupe.partition(recordsDf, al.train())
    assert(out.count() === all.size.toLong)
  }

  test("active-learning loop: uncertain_pairs -> mark_pairs -> retrain (api.py:1235-1313)") {
    // simulated labeler over the entity ground truth: each round pops the
    // top disagreement pair, labels it from truth, retrains — the
    // uncertain_pairs/mark_pairs protocol with Disagreement.topK playing
    // DisagreementLearner.pop and TrainedDedupe.train playing retrain
    val all = entities.flatten
    val ridOf = all.zipWithIndex.map { case (f, i) => f -> i.toLong }.toMap
    def entityOf(rid: Long): Long = rid / 3 // 3 variants per entity, flatten order
    val records = recordsDf.cache()
    val cfg = graft.dedup.DedupConfig()

    // candidate pool: a deterministic window of near-neighbor rid pairs
    // (the reference samples a pool once up front, labeler.py:491-496)
    val pool = (for {
      i <- all.indices; j <- (i + 1) to math.min(i + 3, all.size - 1)
    } yield (i.toLong, j.toLong)).toDF("id_a", "id_b")

    def runLoop(k: Int): (Vector[(Long, Long)], Vector[Int], Vector[Double]) = {
      // seed: one match + one distinct pair per class balance
      var labeled = Seq(
        (0L, all(0), all(1), 1), (1L, all(0), all(3), 0),
        (2L, all(9), all(10), 1), (3L, all(9), all(30), 0))
        .toDF("pair_id", "f1", "f2", "label")
      var asked = Vector.empty[(Long, Long)]
      var coverSizes = Vector.empty[Int]
      var blockRecalls = Vector.empty[Double]
      for (round <- 0 until k) {
        val settings = TrainedDedupe.train(labeled, records)
        val active = PredicateZoo.resolve(settings.rules, PredicateZoo.stringPredicates("f"))
        val blocked = TrainedDedupe.blockPairsResolved(records, active, cfg)
          .select($"a".as("id_a"), $"b".as("id_b")).withColumn("covered", lit(1))
        // loop metrics: learned cover size + blocking recall over ALL true pairs
        val truth = (for {
          e <- entities.indices; i <- 0 until 3; j <- (i + 1) until 3
        } yield (ridOf(entities(e)(i)) min ridOf(entities(e)(j)),
                 ridOf(entities(e)(i)) max ridOf(entities(e)(j)))).toDF("id_a", "id_b")
        blockRecalls :+= blocked.join(truth, Seq("id_a", "id_b"), "left_semi").count()
          .toDouble / truth.count()
        coverSizes :+= BlockLearner.learn(labeled.filter($"label" === 1)
          .select($"pair_id", $"f1", $"f2"), records,
          PredicateZoo.stringPredicates("f"), recall = 1.0).covered.size

        val sides = records.select($"rid", $"f")
        val askedDf = asked.toDF("id_a", "id_b")
        val cand = pool
          .join(askedDf, Seq("id_a", "id_b"), "left_anti")
          .join(sides.select($"rid".as("id_a"), $"f".as("f_a")), Seq("id_a"))
          .join(sides.select($"rid".as("id_b"), $"f".as("f_b")), Seq("id_b"))
          .join(blocked, Seq("id_a", "id_b"), "left")
          .select($"id_a", $"id_b",
            LogisticRegression.scoreColumn(settings.model,
              TrainedDedupe.features($"f_a", $"f_b")).as("score"),
            coalesce($"covered", lit(0)).as("covered"))
        val Array(q) = Disagreement.topK(cand, 1)
          .select($"id_a", $"id_b").as[(Long, Long)].collect()
        asked :+= q
        val lbl = if (entityOf(q._1) == entityOf(q._2)) 1 else 0
        labeled = labeled.unionByName(Seq(
          (100L + round, all(q._1.toInt), all(q._2.toInt), lbl))
          .toDF("pair_id", "f1", "f2", "label"))
      }
      (asked, coverSizes, blockRecalls)
    }

    val (asked1, covers, recalls) = runLoop(4)
    info(s"asked: $asked1 covers: $covers blockRecall: ${recalls.map(r => f"$r%.3f")}")
    assert(asked1.size == 4 && asked1.distinct.size == 4,
      "each round must query a NEW pair")
    // learned-set quality never degrades as labels accumulate
    assert(covers.last >= covers.head, s"match cover degraded: $covers")
    assert(recalls.last >= recalls.head - 1e-9, s"blocking recall degraded: $recalls")
    // the protocol is deterministic end to end
    val (asked2, _, _) = runLoop(4)
    assert(asked2 === asked1, "active-learning transcript must be deterministic")
    records.unpersist()
  }

  test("console_label loop: y/n/u/f/p command semantics (convenience.py:122-199)") {
    val all = entities.flatten
    val pool = (for {
      i <- all.indices; j <- (i + 1) to math.min(i + 3, all.size - 1)
    } yield (i.toLong, j.toLong)).toDF("id_a", "id_b")
    def session(): ActiveLearner = {
      val al = new ActiveLearner(recordsDf, pool)
      al.markPair(0L, 1L, 1); al.markPair(0L, 3L, 0)
      al.markPair(9L, 10L, 1); al.markPair(9L, 30L, 0)
      al
    }
    // x: invalid (re-prompt, consumes nothing) | y: match | p: undo it |
    // zzz: invalid | n: relabel distinct | u: unsure next pair | f: finish
    val script = Seq("x", "y", "p", "zzz", "n", "u", "f")
    def drive(): (ActiveLearner, Int, Vector[String]) = {
      val al = session()
      var transcript = Vector.empty[String]
      val n = ConsoleLabel.run(al, script.iterator, transcript :+= _)
      (al, n, transcript)
    }
    val (al, committed, t) = drive()

    // commits: undo-then-n pair as distinct (1) + unsure pair as both (2)
    assert(committed === 3)
    assert(al.labeledCount === ((3, 4)), "seeds (2,2) + distinct + unsure-both")
    // five pairs shown: served, undo re-show, queued re-show, fresh, final
    assert(t.count(_ == "Do these records refer to the same thing?") === 5)
    // the undo decremented the shown count back to the seed state
    assert(t.count(_ == "2/10 positive, 2/10 negative") >= 2)
    assert(t.contains("3/10 positive, 2/10 negative"), "y incremented the display")
    // (p)revious is offered exactly when the one-deep buffer is non-empty
    assert(t.contains("(y)es / (n)o / (u)nsure / (f)inished / (p)revious"))
    assert(t.count(_ == "(y)es / (n)o / (u)nsure / (f)inished") >= 2)
    assert(t.last === "Finished labeling")
    assert(t.exists(_.startsWith("f : entity")), "record fields displayed")
    // served pairs never come back even if unmarked (labeler.py:396-404
    // pool pop): two asks without any marking are disjoint
    val alServe = session()
    val first = alServe.uncertainPairs(2).toSet
    assert(first.nonEmpty)
    assert(alServe.uncertainPairs(2).toSet.intersect(first).isEmpty)
    // the loop is deterministic: same script, same transcript
    val (_, committed2, t2) = drive()
    assert(committed2 === committed)
    assert(t2 === t)
    // EOF acts as finish: a script that runs dry ends the session cleanly
    val al3 = session()
    val n3 = ConsoleLabel.run(al3, Seq("y").iterator, _ => ())
    assert(n3 === 1, "buffered y flushed at EOF-finish")
    assert(al3.labeledCount === ((3, 2)))
    // seed() (labeler.py:436-452: 4x exact self-match + 1 negative) lets a
    // FRESH session run the loop with zero human labels, as ConsoleLabelMain does
    val al4 = new ActiveLearner(recordsDf, pool)
    al4.seed()
    assert(al4.labeledCount === ((4, 1)))
    assert(ConsoleLabel.run(al4, Seq("y", "f").iterator, _ => ()) === 1)
  }
}

