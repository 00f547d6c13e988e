package graft.learn

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.dedup.{Blocking, ClusterStage, ConnectedComponents, DedupConfig}

/**
 * Trained dedupe — the reference's end-to-end `Dedupe` loop
 * (`api.py:1100-1195` train + `api.py:151-195` partition) closed on Spark:
 * learn blocking predicates from labeled matches ([[BlockLearner]]), fit
 * the classifier ([[LogisticRegression.fitCv]] — the GridSearchCV
 * analogue), then block / score / cluster the full table under the LEARNED
 * settings. This is the learned-settings counterpart of the fixed-config
 * flagship [[graft.dedup.Pipeline]]; a reference user's
 * `prepare_training → train → partition` maps onto
 * `train(labeled, records) → partition(records, settings)`.
 *
 * Scale shape: predicate blocking is a per-row flatMap of the learned
 * kernel predicates emitting (tagged key, rid) — the `Fingerprinter` loop
 * (`blocking.py:58-115`), partition-parallel — feeding the SAME hot-key-
 * capped pair generation as the flagship ([[Blocking.candidatePairs]]; the
 * cap is this engine's standing skew rule — the reference has none and
 * melts on a constant-ish learned predicate). Scoring is the fitted LR as
 * one codegen Column; clustering reuses the refiltered CC + per-component
 * centroid linkage stages.
 *
 * Featurizer: token Jaccard, exact-match and length-ratio Columns — the
 * `DataModel.distances` role (`datamodel.py:106-144`) in codegen-friendly
 * form, IDENTICAL at train and inference time by construction (the same
 * Column expressions evaluate the labeled pairs and the candidate pairs).
 * The reference's default affine-gap comparator exists as the exact kernel
 * ([[graft.texthash.AffineGap]], `score_affine_gap`) but the facade keeps
 * the hot path inside whole-stage codegen.
 */
object TrainedDedupe {

  final case class Settings(predicates: Vector[String],
                            model: LogisticRegression.Model,
                            c: Double,
                            /** learned rules as zoo part-lists (conjunctions
                              * for candidate_types="random forest") */
                            conjunctions: Vector[Vector[String]] = Vector.empty) {
    def rules: Vector[Vector[String]] =
      if (conjunctions.nonEmpty) conjunctions else predicates.map(Vector(_))

    /** Settings-file serialization — the `write_settings` half of the
      * reference's train-once / `StaticDedupe`-forever workflow
      * (`api.py:1218-1233`): learned rules + exact classifier weights.
      * Doubles are hex-encoded (`java.lang.Double.toHexString`) so the
      * round trip is BIT-exact — scoring under reloaded settings is
      * byte-identical to scoring under the fresh ones. */
    def toJson: String = {
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      def hex(d: Double) = java.lang.Double.toHexString(d)
      val rulesJson = rules.map(_.map(p => "\"" + esc(p) + "\"")
        .mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"version":1,"rules":$rulesJson,""" +
        s""""weights":[${model.weights.map(w => "\"" + hex(w) + "\"").mkString(",")}],""" +
        s""""intercept":"${hex(model.intercept)}","c":"${hex(c)}"}"""
    }
  }

  /** Settings-file read-back — the `StaticDedupe` constructor
    * (`api.py:1036-1067`): rebuild learned rules + classifier bit-exactly
    * from [[Settings.toJson]] output. */
  def settingsFromJson(json: String): Settings = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(m.get("version").asInt == 1, s"unknown settings version ${m.get("version")}")
    import scala.jdk.CollectionConverters._
    val rules = m.get("rules").elements().asScala.map(r =>
      r.elements().asScala.map(_.asText).toVector).toVector
    val weights = m.get("weights").elements().asScala
      .map(w => java.lang.Double.parseDouble(w.asText)).toArray
    Settings(
      rules.map(parts => if (parts.size == 1) parts.head
        else parts.mkString("(", " + ", ")")),
      LogisticRegression.Model(weights,
        java.lang.Double.parseDouble(m.get("intercept").asText)),
      java.lang.Double.parseDouble(m.get("c").asText),
      if (rules.forall(_.size == 1)) Vector.empty else rules)
  }

  /** Persist settings next to pipeline outputs (crash-safe tmp+rename). */
  def writeSettings(spark: org.apache.spark.sql.SparkSession, path: String,
                    settings: Settings): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
    val out = fs.create(tmp, true)
    out.write(settings.toJson.getBytes("UTF-8")); out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Load settings written by [[writeSettings]]. */
  def readSettings(spark: org.apache.spark.sql.SparkSession, path: String): Settings = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    settingsFromJson(json)
  }

  /** The shared featurizer Columns over a pair of field values.
    * Token arrays are distinct, so |A ∪ B| = |A| + |B| − |A ∩ B| — the
    * union ARRAY is never materialized, and each side's tokenization
    * appears in one `size` + one `array_intersect` (the duplicate
    * `regexp_extract_all` trees collapse in whole-stage codegen's
    * subexpression elimination). */
  def features(fa: Column, fb: Column): Seq[Column] = {
    def t(c: Column) = array_distinct(regexp_extract_all(c, lit("[\\w']+"), lit(0)))
    val ta = t(fa)
    val tb = t(fb)
    val inter = size(array_intersect(ta, tb))
    Seq(
      inter.cast("double") /
        greatest(size(ta) + size(tb) - inter, lit(1)).cast("double"),
      when(fa === fb, 1.0).otherwise(0.0),
      abs(length(fa) - length(fb)).cast("double") /
        greatest(greatest(length(fa), length(fb)), lit(1)).cast("double"))
  }

  /**
   * Learn settings from labeled pairs — `Dedupe.train` (`api.py:1100-1142`):
   * blocking rules from the positive pairs via set cover, classifier
   * weights from all labels via the CV'd LR fit.
   *
   * @param labeled (pair_id: long, f1, f2, label: int 0/1)
   * @param records (rid: long, f) corpus sample for comparison coverage
   */
  def train(labeled: DataFrame, records: DataFrame,
            preds: Seq[NamedPredicate] = PredicateZoo.stringPredicates("f"),
            recall: Double = 1.0,
            candidateTypes: String = "simple"): Settings = {
    val matches = labeled.filter(col("label") === 1)
      .select(col("pair_id"), col("f1"), col("f2"))
    val learned = BlockLearner.learn(matches, records, preds, recall,
      candidateTypes = candidateTypes)

    val feats = features(col("f1"), col("f2"))
      .zipWithIndex.map { case (c, i) => c.as(s"x$i") }
    val training = labeled.select(feats :+ col("label").as("label"): _*)
    val (x, y) = LogisticRegression.collectTraining(
      training, feats.indices.map(i => s"x$i"), "label")
    val (model, c) = LogisticRegression.fitCv(x, y)
    Settings(learned.predicates, model, c, learned.conjunctions)
  }

  /** Candidate pairs from the LEARNED predicates: per-row kernel key
    * emission (keys live in per-predicate keyspaces like the reference's
    * `:predicate_index` suffixing, `blocking.py:109`), then the flagship's
    * hot-key-capped within-key self-join. */
  def blockPairs(records: DataFrame, predicates: Vector[String],
                 preds: Seq[NamedPredicate], cfg: DedupConfig): DataFrame =
    blockPairsResolved(records,
      preds.filter(p => predicates.contains(p.name)), cfg)

  /** Same, over already-resolved rules (incl. compound conjunctions from
    * [[PredicateZoo.resolve]]). */
  def blockPairsResolved(records: DataFrame, active: Seq[NamedPredicate],
                         cfg: DedupConfig): DataFrame =
    blockResolved(records, active, cfg).pairs

  private def blockResolved(records: DataFrame, active: Seq[NamedPredicate],
                            cfg: DedupConfig): Blocking.BlockingResult = {
    val spark = records.sparkSession
    import spark.implicits._
    require(active.nonEmpty, "no learned predicates to block with")
    val keys = records.select(col("rid").cast("long"), col("f"))
      .as[(Long, String)]
      .flatMap { case (rid, f) =>
        active.iterator.flatMap { p =>
          val tag = graft.texthash.TextHash.hashString(p.name, 42L)
          p(f).iterator.map(k =>
            (graft.texthash.TextHash.hashString(k, tag), rid))
        }
      }
      .toDF("key", "rid")
      .distinct() // a predicate can emit one key many times; reference
                  // relies on its unique (block_key, record_id) index
    Blocking.candidatePairs(keys, records.count(), cfg, idCol = "rid")
  }

  /** Two-sided learned-predicate candidate pairs — the blocking stage of
    * `RecordLink.join` / `Gazetteer.search` (`api.py:448-459,842-848`:
    * equi-join of the two sides' block keys). Keys hot on EITHER side are
    * dropped first (broadcast anti-join — the engine's standing skew rule;
    * the reference has none and a boilerplate key makes the join a
    * cross-product of its two sides). */
  def linkPairs(left: DataFrame, right: DataFrame, active: Seq[NamedPredicate],
                cfg: DedupConfig): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    def keysOf(df: DataFrame): DataFrame =
      df.select(col("rid").cast("long"), col("f"))
        .as[(Long, String)]
        .flatMap { case (rid, f) =>
          active.iterator.flatMap { p =>
            val tag = graft.texthash.TextHash.hashString(p.name, 42L)
            p(f).iterator.map(k => (graft.texthash.TextHash.hashString(k, tag), rid))
          }
        }
        .toDF("key", "rid").distinct()
    val kl = keysOf(left)
    val kr = keysOf(right)
    val cap = Blocking.hotKeyCap(math.max(left.count(), right.count()), cfg)
    def hotOf(k: DataFrame) = k.groupBy(col("key"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap).select(col("key"))
    val hot = hotOf(kl).unionByName(hotOf(kr)).distinct()
    kl.join(broadcast(hot), Seq("key"), "left_anti").withColumnRenamed("rid", "a")
      .join(kr.join(broadcast(hot), Seq("key"), "left_anti")
        .withColumnRenamed("rid", "b"), Seq("key"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Score two-sided candidate pairs with the fitted model. */
  private def scoreLink(pairs: DataFrame, left: DataFrame, right: DataFrame,
                        settings: Settings): DataFrame =
    pairs
      .join(left.select(col("rid").cast("long").as("a"), col("f").as("f_a")), Seq("a"))
      .join(right.select(col("rid").cast("long").as("b"), col("f").as("f_b")), Seq("b"))
      .select(col("a"), col("b"),
        LogisticRegression.scoreColumn(settings.model,
          features(col("f_a"), col("f_b"))).as("score"))

  /**
   * `RecordLink.join(data_1, data_2, threshold, "one-to-one")`
   * (`api.py:411-520`): learned-predicate two-sided blocking, fitted-LR
   * scoring, greedy one-to-one matching above the threshold.
   * @return (rid_l, rid_r, score)
   */
  def link(left: DataFrame, right: DataFrame, settings: Settings,
           threshold: Double = 0.5,
           preds: Seq[NamedPredicate] = PredicateZoo.stringPredicates("f"),
           cfg: DedupConfig = DedupConfig()): DataFrame = {
    val pairs = linkPairs(left, right, PredicateZoo.resolve(settings.rules, preds), cfg)
    val scored = scoreLink(pairs, left, right, settings)
      .filter(col("score") > threshold)
      // greedyOneToOne carries string ids (url-shaped); round-trip the rids
      .select(col("a").cast("string").as("a"), col("b").cast("string").as("b"),
        col("score"))
    graft.dedup.Matching.greedyOneToOne(scored)
      .select(col("a").cast("long").as("rid_l"), col("b").cast("long").as("rid_r"),
        col("score"))
  }

  /**
   * `Gazetteer.search(messy, n_matches, generator=False)` with learned
   * settings (`api.py:938-995` + `_format_search_results`,
   * `api.py:1007-1024`): top-n indexed matches above threshold per query,
   * and EVERY query surfaces — unmatched ones with a null match/score row.
   * @return (query_rid, match_rid, score)
   */
  def search(queries: DataFrame, index: DataFrame, settings: Settings,
             threshold: Double = 0.5, n: Int = 1,
             preds: Seq[NamedPredicate] = PredicateZoo.stringPredicates("f"),
             cfg: DedupConfig = DedupConfig()): DataFrame = {
    val pairs = linkPairs(queries, index, PredicateZoo.resolve(settings.rules, preds), cfg)
    val top = graft.dedup.Matching.gazetteTopN(
      scoreLink(pairs, queries, index, settings), threshold, n)
      .select(col("a").as("query_rid"), col("b").as("match_rid"), col("score"))
    queries.select(col("rid").cast("long").as("query_rid")).distinct()
      .join(top, Seq("query_rid"), "left")
  }

  // --- multi-field (DataModel) surface — the reference's actual API shape:
  // --- a Dedupe is built from a VARIABLE LIST, not one field --------------

  /**
   * Multi-field [[train]] — `Dedupe(variables).train` (`api.py:1100-1142`)
   * over a [[DataModel]] variable list: blocking rules from the union zoo
   * via the multi-field set cover, classifier weights from the affine-gap /
   * exact / missing-indicator featurizer ([[DataModel.featureColumns]]).
   *
   * @param labeled (pair_id, label, `<field>_1`, `<field>_2` per field)
   * @param records (rid, field columns) corpus sample for comparison cover
   */
  def trainFields(labeled: DataFrame, records: DataFrame,
                  vars: Seq[DataModel.Variable],
                  recall: Double = 1.0,
                  candidateTypes: String = "simple",
                  indexPredicates: Boolean = false): Settings = {
    val preds = DataModel.zoo(vars, indexPredicates)
    val matches = labeled.filter(col("label") === 1)
    val learned = BlockLearner.learnMulti(matches, records, preds, recall,
      candidateTypes = candidateTypes)

    val feats = DataModel.featureColumns(vars,
      f => col(s"${f}_1"), f => col(s"${f}_2"))
      .zipWithIndex.map { case (c, i) => c.as(s"x$i") }
    val training = labeled.select(feats :+ col("label").as("label"): _*)
    val (x, y) = LogisticRegression.collectTraining(
      training, feats.indices.map(i => s"x$i"), "label")
    val (model, c) = LogisticRegression.fitCv(x, y)
    Settings(learned.predicates, model, c, learned.conjunctions)
  }

  /**
   * One learned rule resolved against a variable zoo: parts bound to THEIR
   * OWN fields — the `CompoundPredicate` record semantics
   * (`predicates.py:344-375`: each part pulls its own `record[field]`, keys
   * are the ':'-escaped cross product). Single-part rules are the common
   * case; multi-part rules come from random-forest conjunctions, which CAN
   * cross fields (e.g. firstToken(name) + firstToken(city)).
   */
  final case class BoundRule(parts: Vector[(String, NamedPredicate)]) {
    def name: String =
      if (parts.size == 1) parts.head._2.name
      else BlockLearner.conjName(parts.map(_._2.name))
    def fields: Seq[String] = parts.map(_._1)
    /** Keys over the record's field values (by the caller's field lookup).
      * Mirrors [[NamedPredicate.compound]]: any part with no keys empties
      * the product, like `itertools.product`. */
    def keys(fieldValue: String => String): Set[String] =
      if (parts.size == 1) parts.head._2(fieldValue(parts.head._1))
      else parts
        .map { case (f, p) => p(fieldValue(f)).toSeq.sorted }
        .foldLeft(Seq(Seq.empty[String])) {
          (acc, ks) => for { pre <- acc; k <- ks } yield pre :+ k
        }
        .map(_.map(_.replace(":", "\\:")).mkString(":")).toSet
  }

  /** Multi-field learned-rule candidate pairs — the `Fingerprinter` loop
    * over every learned rule (incl. cross-field conjunctions), then the
    * flagship's hot-key-capped within-key self-join. */
  def blockPairsFields(records: DataFrame, active: Seq[BoundRule],
                       cfg: DedupConfig): DataFrame =
    blockFields(records, active, cfg).pairs

  private def blockFields(records: DataFrame, active: Seq[BoundRule],
                          cfg: DedupConfig): Blocking.BlockingResult = {
    val spark = records.sparkSession
    import spark.implicits._
    require(active.nonEmpty, "no learned predicates to block with")
    val fields = active.flatMap(_.fields).distinct
    val fi = fields.zipWithIndex.toMap
    val keys = records.select(col("rid").cast("long"),
      org.apache.spark.sql.functions.array(fields.map(col): _*).as("fs"))
      .as[(Long, Seq[String])]
      .flatMap { case (rid, fs) =>
        active.iterator.flatMap { r =>
          val tag = graft.texthash.TextHash.hashString(r.name, 42L)
          r.keys(f => fs(fi(f))).iterator
            .map(k => (graft.texthash.TextHash.hashString(k, tag), rid))
        }
      }
      .toDF("key", "rid")
      .distinct()
    Blocking.candidatePairs(keys, records.count(), cfg, idCol = "rid")
  }

  /** Resolve learned rules (from [[Settings.rules]]) against a variable
    * list's zoo, preserving the learned order; multi-part rules bind each
    * part to its own field. */
  def resolveFields(rules: Vector[Vector[String]],
                    vars: Seq[DataModel.Variable]): Seq[BoundRule] = {
    // resolve against the SUPERSET zoo (index predicates included) so
    // settings learned under either training.py mode load; unlearned names
    // simply never appear in `rules`
    val byName = DataModel.zoo(vars, indexPredicates = true)
      .map { case (f, p) => p.name -> (f, p) }.toMap
    rules.map(parts => BoundRule(parts.map(byName)))
  }

  /**
   * Multi-field [[partition]] — `Dedupe.partition(data, threshold)` over a
   * [[DataModel]] variable list: learned blocking on every variable's
   * predicates, fitted-LR scores over the affine-gap featurizer, refiltered
   * CC + centroid linkage + singletons.
   *
   * @param records (rid, field columns)
   */
  def partitionFields(records: DataFrame, vars: Seq[DataModel.Variable],
                      settings: Settings, threshold: Double = 0.5,
                      cfg: DedupConfig = DedupConfig()): DataFrame = {
    val fields = vars.map(_.field).distinct
    val r = records.select(col("rid").cast("long").as("rid") +: fields.map(col): _*)
    val aSide = r.select(col("rid").as("a") +: fields.map(f => col(f).as(s"${f}_a")): _*)
    val bSide = r.select(col("rid").as("b") +: fields.map(f => col(f).as(s"${f}_b")): _*)
    clusterTail(r, blockFields(r, resolveFields(settings.rules, vars), cfg), threshold, cfg) {
      _.join(aSide, Seq("a")).join(bSide, Seq("b"))
        .select(col("a"), col("b"),
          LogisticRegression.scoreColumn(settings.model,
            DataModel.featureColumns(vars, f => col(s"${f}_a"), f => col(s"${f}_b")))
            .cast("float").as("score"))
    }
  }

  /**
   * Multi-field `RecordLink(variables).train` (`api.py:411-447` over the
   * [[DataModel]] surface): two-sided set-cover blocking rules from the
   * union zoo, classifier from the variable featurizer.
   * @param labeled (pair_id, label, `<field>_1`/`<field>_2` per field) —
   *                side 1 fields from `left`, side 2 from `right`
   */
  def trainLinkFields(labeled: DataFrame, left: DataFrame, right: DataFrame,
                      vars: Seq[DataModel.Variable],
                      recall: Double = 1.0,
                      indexPredicates: Boolean = false): Settings = {
    val preds = DataModel.zoo(vars, indexPredicates)
    val matches = labeled.filter(col("label") === 1)
    val learned = BlockLearner.learnLinkMulti(matches, left, right, preds, recall)
    val feats = DataModel.featureColumns(vars,
      f => col(s"${f}_1"), f => col(s"${f}_2"))
      .zipWithIndex.map { case (c, i) => c.as(s"x$i") }
    val training = labeled.select(feats :+ col("label").as("label"): _*)
    val (x, y) = LogisticRegression.collectTraining(
      training, feats.indices.map(i => s"x$i"), "label")
    val (model, c) = LogisticRegression.fitCv(x, y)
    Settings(learned.predicates, model, c, learned.conjunctions)
  }

  /** Multi-field [[linkPairs]]: two-sided learned-rule blocking over every
    * variable's fields, keys hot on EITHER side dropped first. */
  def linkPairsFields(left: DataFrame, right: DataFrame,
                      active: Seq[BoundRule],
                      cfg: DedupConfig): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    require(active.nonEmpty, "no learned predicates to block with")
    val fields = active.flatMap(_.fields).distinct
    val fi = fields.zipWithIndex.toMap
    def keysOf(df: DataFrame): DataFrame =
      df.select(col("rid").cast("long"),
        org.apache.spark.sql.functions.array(fields.map(col): _*).as("fs"))
        .as[(Long, Seq[String])]
        .flatMap { case (rid, fs) =>
          active.iterator.flatMap { r =>
            val tag = graft.texthash.TextHash.hashString(r.name, 42L)
            r.keys(f => fs(fi(f))).iterator
              .map(k => (graft.texthash.TextHash.hashString(k, tag), rid))
          }
        }
        .toDF("key", "rid").distinct()
    val kl = keysOf(left)
    val kr = keysOf(right)
    val cap = Blocking.hotKeyCap(math.max(left.count(), right.count()), cfg)
    def hotOf(k: DataFrame) = k.groupBy(col("key"))
      .agg(count(lit(1)).as("df")).filter(col("df") > cap).select(col("key"))
    val hot = hotOf(kl).unionByName(hotOf(kr)).distinct()
    kl.join(broadcast(hot), Seq("key"), "left_anti").withColumnRenamed("rid", "a")
      .join(kr.join(broadcast(hot), Seq("key"), "left_anti")
        .withColumnRenamed("rid", "b"), Seq("key"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Score two-sided multi-field candidate pairs with the fitted model. */
  private def scoreLinkFields(pairs: DataFrame, left: DataFrame, right: DataFrame,
                              vars: Seq[DataModel.Variable],
                              settings: Settings): DataFrame = {
    val fields = vars.map(_.field).distinct
    val aSide = left.select(col("rid").cast("long").as("a") +:
      fields.map(f => col(f).as(s"${f}_a")): _*)
    val bSide = right.select(col("rid").cast("long").as("b") +:
      fields.map(f => col(f).as(s"${f}_b")): _*)
    pairs.join(aSide, Seq("a")).join(bSide, Seq("b"))
      .select(col("a"), col("b"),
        LogisticRegression.scoreColumn(settings.model,
          DataModel.featureColumns(vars, f => col(s"${f}_a"), f => col(s"${f}_b")))
          .as("score"))
  }

  /**
   * Multi-field `RecordLink.join(data_1, data_2, threshold, constraint)`
   * (`api.py:448-520`): learned two-sided blocking, fitted-LR scoring, then
   * `"one-to-one"` greedy matching (the reference default) or
   * `"many-to-one"` per-left top-1 (`clustering.py:299-311` semantics).
   * @return (rid_l, rid_r, score)
   */
  def linkFields(left: DataFrame, right: DataFrame, vars: Seq[DataModel.Variable],
                 settings: Settings, threshold: Double = 0.5,
                 constraint: String = "one-to-one",
                 cfg: DedupConfig = DedupConfig()): DataFrame = {
    require(constraint == "one-to-one" || constraint == "many-to-one",
      s"unknown constraint '$constraint'")
    val pairs = linkPairsFields(left, right, resolveFields(settings.rules, vars), cfg)
    val scored = scoreLinkFields(pairs, left, right, vars, settings)
    if (constraint == "many-to-one")
      graft.dedup.Matching.gazetteTopN(scored, threshold, 1)
        .select(col("a").as("rid_l"), col("b").as("rid_r"), col("score"))
    else
      graft.dedup.Matching.greedyOneToOne(
        scored.filter(col("score") > threshold)
          .select(col("a").cast("string").as("a"), col("b").cast("string").as("b"),
            col("score")))
        .select(col("a").cast("long").as("rid_l"), col("b").cast("long").as("rid_r"),
          col("score"))
  }

  /**
   * Multi-field `Gazetteer.search(messy, n_matches)` with empty-fill
   * (`api.py:938-1024`): top-n indexed matches above threshold per query;
   * every query surfaces (unmatched → null match/score row).
   * @return (query_rid, match_rid, score)
   */
  def searchFields(queries: DataFrame, index: DataFrame,
                   vars: Seq[DataModel.Variable], settings: Settings,
                   threshold: Double = 0.5, n: Int = 1,
                   cfg: DedupConfig = DedupConfig()): DataFrame = {
    val pairs = linkPairsFields(queries, index, resolveFields(settings.rules, vars), cfg)
    val top = graft.dedup.Matching.gazetteTopN(
      scoreLinkFields(pairs, queries, index, vars, settings), threshold, n)
      .select(col("a").as("query_rid"), col("b").as("match_rid"), col("score"))
    queries.select(col("rid").cast("long").as("query_rid")).distinct()
      .join(top, Seq("query_rid"), "left")
  }

  /**
   * Cluster the full table under learned settings —
   * `Dedupe.partition(data, threshold)` (`api.py:151-195`): learned-
   * predicate blocking → fitted-LR pair scores (score > 0 kept, the
   * classifier-zero drop `core.py:81-84`) → refiltered connected
   * components → per-component centroid linkage + singletons.
   *
   * @param records (rid: long, f: string)
   * @return (rid, cluster_id, confidence) — cluster_id = smallest member rid
   */
  def partition(records: DataFrame, settings: Settings, threshold: Double = 0.5,
                preds: Seq[NamedPredicate] = PredicateZoo.stringPredicates("f"),
                cfg: DedupConfig = DedupConfig()): DataFrame = {
    val r = records.select(col("rid").cast("long").as("rid"), col("f"))
    val sides = r.select(col("rid"), col("f"))
    clusterTail(r, blockResolved(r, PredicateZoo.resolve(settings.rules, preds), cfg), threshold, cfg) {
      _.join(sides.select(col("rid").as("a"), col("f").as("f_a")), Seq("a"))
        .join(sides.select(col("rid").as("b"), col("f").as("f_b")), Seq("b"))
        .select(col("a"), col("b"),
          LogisticRegression.scoreColumn(settings.model,
            features(col("f_a"), col("f_b"))).cast("float").as("score"))
    }
  }

  /** The cluster tail of [[partition]] and [[partitionFields]]: scored
    * candidate pairs (score > 0 kept, the classifier-zero drop
    * `core.py:81-84`) → refiltered connected components → per-component
    * centroid linkage → singleton completion. `withRefilter` materializes the
    * scored edges, so the blocking caches are released as soon as it
    * returns, or fails.
    * @param records (rid, ...) every record of the partition
    * @param score (a, b) candidate pairs → (a, b, score: float)
    * @return (rid, cluster_id, confidence) */
  private def clusterTail(records: DataFrame, blocking: Blocking.BlockingResult,
                          threshold: Double, cfg: DedupConfig)
                         (score: DataFrame => DataFrame): DataFrame = {
    val labeled =
      try ConnectedComponents.withRefilter(
        score(blocking.pairs).filter(col("score") > 1e-6f), // predict_proba exact-zero drop analogue
        cfg.maxComponents)
      finally blocking.cleanup()
    val clustered = ClusterStage.clusterComponents(labeled, threshold, cfg.maxComponents)
    ClusterStage.withSingletons(records.select(col("rid").as("nid")), clustered)
      .select(col("nid").as("rid"), col("cluster_nid").as("cluster_id"), col("confidence"))
  }
}
