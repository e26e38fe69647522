package kgbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Seeded generator of the transcript tables the KG workloads feed the
 * engine, with their golden triples in closed form.
 *
 * Entities are pronounceable two-word names drawn from a seeded driver-side
 * RNG, so two distinct entities share almost no character 3-grams. Alias
 * variant k of an entity inserts one more letter into variant k-1: adjacent
 * variants are near-duplicates (char-3-gram Jaccard >= 0.67) while variants
 * two or more steps apart mostly fall below the linking threshold, so
 * linking has to chain them (connected components over a path, not a star).
 *
 * A "catalog" conversation per entity mentions the base form twice and every
 * variant once, so every link of every chain is present and the base form is
 * the most frequent surface form of its entity (it is what canonicalization
 * picks). The remaining turns are drawn from `xxhash64(seed, ...)` over
 * `spark.range`: templated facts, chatter and tool calls, with a share of
 * re-delivered turns that carry a later timestamp and a different fact, which
 * the stable-turn dedup must drop.
 */
object Gen {

  /** @param turns        conversation turns before catalog and re-delivered rows
    * @param entities     distinct entities over the three types
    * @param aliasDepth   alias variants per entity (chain length), 0..4
    * @param hotShare     share of conversations that are hot (20x the turns)
    * @param replyChars   mean length of a turn that states no fact */
  final case class Params(seed: Long, turns: Long, entities: Int, aliasDepth: Int,
                          hotShare: Double, replyChars: Int) {
    require(replyChars >= 20 && replyChars <= Filler.length / 3, s"replyChars $replyChars")
    require(aliasDepth >= 0 && aliasDepth <= InsertAt.length, s"aliasDepth $aliasDepth")
    require(entities >= 6, "at least two entities per type")
    require(hotShare > 0 && hotShare <= 0.5, s"hotShare $hotShare")
    /** Conversations per hot one; the conversation count is a multiple of it. */
    val hotEvery: Int = math.round(1 / hotShare).toInt
    val hotTurns: Int = 20 * TurnsPerConv
    val convs: Long = {
      val perGroup = hotTurns + (hotEvery - 1).toLong * TurnsPerConv
      math.max(1L, math.round(turns.toDouble / perGroup)) * hotEvery
    }
    def json: String =
      s"""{"seed":$seed,"turns":$turns,"entities":$entities,"alias_depth":$aliasDepth,""" +
        s""""hot_share":$hotShare,"reply_chars":$replyChars}"""
  }

  /** Share of turns delivered a second time. */
  private val DupShare = 0.02
  /** Turns of a normal conversation; a hot one holds 20x as many. */
  private val TurnsPerConv = 8

  val Types: Seq[String] = Seq("person", "org", "city")
  // (predicate, infix, subject type, object type): the templates the engine's
  // extraction rules recognise
  val Preds: Seq[(String, String, String, String)] = Seq(
    ("works_at", " works at ", "person", "org"),
    ("lives_in", " lives in ", "person", "city"),
    ("reports_to", " reports to ", "person", "person"),
    ("based_in", " is based in ", "org", "city"))
  // (word, position) of the letter each successive alias variant inserts;
  // positions are far enough apart that the changed 3-grams never overlap
  private val InsertAt: Seq[(Int, Int)] = Seq((0, 2), (1, 2), (0, 6), (1, 6))
  private val Consonants = "bcdfghklmnprstvz"
  // text of the turns that state no fact: none of the extraction infixes
  private val Filler: String = {
    val words = Seq("the", "plan", "looks", "fine", "and", "we", "should", "check", "numbers",
      "again", "before", "sending", "it", "to", "everyone", "on", "list", "please", "note",
      "that", "figures", "from", "last", "quarter", "were", "revised", "upward", "so",
      "summary", "needs", "update", "thanks", "for", "patience", "meanwhile", "draft", "is",
      "ready", "review", "comments", "welcome")
    val rnd = new java.util.Random(7)
    Iterator.continually(words(rnd.nextInt(words.length))).take(1200).mkString(" ")
  }
  private val Vowels = "aeiou"

  /** Entities of one type: a third each, persons take the remainder. */
  def entitiesOf(p: Params, t: String): Int = t match {
    case "person" => p.entities - 2 * (p.entities / 3)
    case _ => p.entities / 3
  }

  /** (type, eid, variant, name) for every entity and alias variant. */
  def vocabulary(p: Params): Seq[(String, Int, Int, String)] = {
    val rnd = new java.util.SplittableRandom(p.seed * 0x9E3779B97F4A7C15L + 17)
    def word(): String = {
      val n = 7 + rnd.nextInt(3)
      val s = (0 until n).map { i =>
        if (i % 2 == 0) Consonants(rnd.nextInt(Consonants.length))
        else Vowels(rnd.nextInt(Vowels.length))
      }.mkString
      s.capitalize
    }
    for {
      t <- Types
      eid <- 0 until entitiesOf(p, t)
      words = Array(word(), word())
      v <- 0 to p.aliasDepth
    } yield {
      if (v > 0) {
        val (w, at) = InsertAt(v - 1)
        words(w) = words(w).patch(at, "aeiouy"(rnd.nextInt(6)).toString, 0)
      }
      (t, eid, v, words.mkString(" "))
    }
  }

  private def h(seed: Long, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(1000000007L))

  /** Per-turn structure before rendering: (conv_id, turn_idx, ts, role, tool,
    * pred or null, subject/object type, eid and variant, dup flag). */
  private def skeleton(spark: SparkSession, p: Params): DataFrame = {
    val s = p.seed
    val nPerson = entitiesOf(p, "person")
    val convs = spark.range(p.convs).select(
      col("id").as("cid"),
      when(pmod(col("id") + lit(s), lit(p.hotEvery)) === 0, lit(p.hotTurns))
        .otherwise(lit(TurnsPerConv)).as("n"))
    val turns = convs.select(col("cid"),
      explode(sequence(lit(0), col("n") - 1)).as("turn_idx"))
    val k = h(s, col("cid"), col("turn_idx"), lit(1))
    val tmpl = pmod(k, lit(6)) // 0-3 facts, 4 chatter, 5 tool call
    def eid(salt: Int, n: Column): Column = pmod(h(s, col("cid"), col("turn_idx"), lit(salt)), n)
    // alias variant: base form 80%, the rest uniform over the chain
    def variant(salt: Int): Column =
      if (p.aliasDepth == 0) lit(0)
      else {
        val u = pmod(h(s, col("cid"), col("turn_idx"), lit(salt)), lit(1000))
        when(u < 800, lit(0)).otherwise(pmod(u, lit(p.aliasDepth)) + 1)
      }
    def typed(c: String => Int): Column = {
      val m = Preds.map { case (_, _, st, _) => st }
      when(tmpl === 0, lit(c(m(0)))).when(tmpl === 1, lit(c(m(1))))
        .when(tmpl === 2, lit(c(m(2)))).otherwise(lit(c(m(3))))
    }
    val nSubj = typed(entitiesOf(p, _))
    val subjEid = eid(2, nSubj)
    val objN = when(tmpl === 0, lit(entitiesOf(p, "org")))
      .when(tmpl === 2, lit(nPerson - 1)).otherwise(lit(entitiesOf(p, "city")))
    // reports_to never points at its own subject
    val objEid = when(tmpl === 2, pmod(subjEid + eid(3, objN) + 1, lit(nPerson)))
      .otherwise(eid(3, objN))
    val pred = element_at(array(Preds.map(x => lit(x._1)): _*), (tmpl + 1).cast("int"))
    turns.select(
      concat(lit("c"), lpad(col("cid").cast("string"), 9, "0")).as("conv_id"),
      col("turn_idx").cast("int").as("turn_idx"),
      (lit(1704067200L) + col("cid") * 100000L + col("turn_idx") * 60L).as("ts_s"),
      when(tmpl === 5, lit("tool"))
        .when(pmod(k, lit(2)) === 0, lit("user")).otherwise(lit("assistant")).as("role"),
      when(tmpl === 5, lit("search")).otherwise(lit(null).cast("string")).as("tool"),
      when(tmpl < 4, pred).as("pred"),
      tmpl.as("tmpl"),
      subjEid.cast("int").as("s_eid"), variant(4).as("s_var"),
      objEid.cast("int").as("o_eid"), variant(5).as("o_var"),
      (h(s, col("cid"), col("turn_idx"), lit(6)) < lit((DupShare * 1000000007L).toLong))
        .as("dup"),
      eid(7, lit(nPerson)).cast("int").as("d_eid"))
  }

  /** One catalog conversation per entity: the base form twice, then every
    * alias variant once, each in a fact whose other slot is a base form. */
  private def catalog(p: Params, vocab: DataFrame): DataFrame = {
    val perEntity = p.aliasDepth + 2
    vocab.filter(col("variant") === 0).select(col("etype"), col("eid"))
      .select(col("etype"), col("eid"),
        explode(sequence(lit(0), lit(perEntity - 1))).as("turn_idx"))
      .select(
        concat(lit("k"), col("etype"), lpad(col("eid").cast("string"), 9, "0")).as("conv_id"),
        col("turn_idx"),
        (lit(1600000000L) + col("eid") * 1000L + col("turn_idx") * 60L).as("ts_s"),
        lit("user").as("role"), lit(null).cast("string").as("tool"),
        // person -> lives_in, org -> based_in, city -> lives_in (as object)
        when(col("etype") === "org", lit("based_in")).otherwise(lit("lives_in")).as("pred"),
        when(col("etype") === "org", lit(3)).otherwise(lit(1)).as("tmpl"),
        when(col("etype") === "city", pmod(col("eid"), lit(entitiesOf(p, "person"))))
          .otherwise(col("eid")).cast("int").as("s_eid"),
        when(col("etype") === "city", lit(0))
          .otherwise(greatest(col("turn_idx") - 1, lit(0))).as("s_var"),
        when(col("etype") === "city", col("eid"))
          .otherwise(pmod(col("eid"), lit(entitiesOf(p, "city")))).cast("int").as("o_eid"),
        when(col("etype") === "city", greatest(col("turn_idx") - 1, lit(0)))
          .otherwise(lit(0)).as("o_var"),
        lit(false).as("dup"), lit(0).as("d_eid"))
  }

  private def typeOf(slot: String): Column = {
    val tmpl = col("tmpl")
    val ts = Preds.map(x => if (slot == "s") x._3 else x._4)
    when(tmpl === 0, lit(ts(0))).when(tmpl === 1, lit(ts(1)))
      .when(tmpl === 2, lit(ts(2))).otherwise(lit(ts(3)))
  }

  /** The skeleton with both entity slots resolved to surface names. */
  private def resolved(spark: SparkSession, p: Params): DataFrame = {
    val vocab = spark.createDataFrame(vocabulary(p)).toDF("etype", "eid", "variant", "name")
    val sk = skeleton(spark, p).unionByName(catalog(p, vocab))
      .withColumn("s_type", typeOf("s")).withColumn("o_type", typeOf("o"))
    def side(pfx: String, v: String) = broadcast(vocab.select(
      col("etype").as(s"${pfx}_type"), col("eid").as(s"${pfx}_eid"),
      col("variant").as(v), col("name").as(s"${pfx}_name")))
    val base = broadcast(vocab.filter(col("variant") === 0).select(
      col("etype"), col("eid"), col("name")))
    sk.join(side("s", "s_var"), Seq("s_type", "s_eid", "s_var"))
      .join(side("o", "o_var"), Seq("o_type", "o_eid", "o_var"))
      .join(base.select(col("etype").as("s_type"), col("eid").as("s_eid"),
        col("name").as("s_canon")), Seq("s_type", "s_eid"))
      .join(base.select(col("etype").as("o_type"), col("eid").as("o_eid"),
        col("name").as("o_canon")), Seq("o_type", "o_eid"))
      .join(base.filter(col("etype") === "person").select(col("eid").as("d_eid"),
        col("name").as("d_name")), Seq("d_eid"))
  }

  private def infix: Column = {
    val tmpl = col("tmpl")
    when(tmpl === 0, lit(Preds(0)._2)).when(tmpl === 1, lit(Preds(1)._2))
      .when(tmpl === 2, lit(Preds(2)._2)).otherwise(lit(Preds(3)._2))
  }

  /** The transcript table in the engine's input contract
    * `(conv_id, turn_idx, role, text, tool, ts)` and its golden triple set
    * `(subj, pred, obj)` over base surface forms, both over one cached
    * resolution of the generated turns (`spark.catalog.clearCache()` frees it). */
  def tables(spark: SparkSession, p: Params): (DataFrame, DataFrame) = {
    val r = resolved(spark, p).cache()
    // a reply of replyChars/2 .. 3*replyChars/2 characters cut from the filler
    val len = pmod(h(p.seed, col("conv_id"), col("turn_idx"), lit(8)), lit(p.replyChars + 1)) +
      lit(p.replyChars / 2)
    val at = pmod(h(p.seed, col("conv_id"), col("turn_idx"), lit(9)), lit(Filler.length / 3)) + 1
    val reply = lit(Filler).substr(at, len)
    val text = when(col("tmpl") < 4, concat(col("s_name"), infix, col("o_name"), lit(".")))
      .when(col("tmpl") === 4, reply)
      .otherwise(concat(lit("Found results for "), col("o_name"), lit(" in the index.")))
    val first = r.select(col("conv_id"), col("turn_idx"), col("role"), text.as("text"),
      col("tool"), col("ts_s").cast("timestamp").as("ts"))
    // a re-delivered turn arrives an hour later with a different fact; the
    // stable-turn dedup keeps the earliest delivery
    val again = r.filter(col("dup")).select(col("conv_id"), col("turn_idx"),
      lit("user").as("role"),
      concat(col("d_name"), lit(" works at "), col("o_name"), lit(".")).as("text"),
      lit(null).cast("string").as("tool"),
      (col("ts_s") + 3600L).cast("timestamp").as("ts"))
    val gold = r.filter(col("pred").isNotNull)
      .select(col("s_canon").as("subj"), col("pred"), col("o_canon").as("obj"))
      .distinct()
    (first.unionByName(again), gold)
  }
}
