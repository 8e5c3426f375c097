package kgbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Text
import graft.sources.Pages

/** Seeded input generators. Every input is a pure function of the seed
  * and is written to parquet before timing starts; the program under
  * test only ever sees the written tables. */
object Gen {

  /** Stream `stream` of the seed, passed through one SplitMix64 output
    * step so that nearby seeds give unrelated streams. */
  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed + 0x632BE59BD9B4E019L * stream).nextLong())

  // ---------------------------------------------------------------- pages

  private val Langs = Vector("zh", "zh", "zh", "en", "de", "es", "fr")
  private val Filler = Vector("the", "data", "stream", "table", "join", "merge",
    "window", "query", "value", "order", "batch", "spark", "scan", "hash",
    "filter", "group", "column", "row", "key", "sort", "line", "part")

  /** A documents table in the shape `Pages.synthesize` reads (doc_id,
    * text, lang, source), then the program's own page synthesis over
    * it with `text` nulled, so the build runs the real html extraction
    * path. Doc ids start at a seed-derived base: zh page bodies are the
    * fixture corpus keyed by doc id, so another seed gives other pages. */
  def pages(spark: SparkSession, seed: Long, docs: Int, replicate: Int,
            heavy: Int, dir: String): (String, Int) = {
    import spark.implicits._
    val r = rng(seed, 1)
    val base = 1000000L * (seed % 100000L + 1)
    val rows = (0 until docs).map { i =>
      val words = Vector.fill(20 + r.nextInt(40))(Filler(r.nextInt(Filler.length)))
      (base + i, words.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(8)}")
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    val out = s"$dir/pages.parquet"
    Pages.synthesize(spark, dir, replicate, heavy).toDF()
      .withColumn("text", lit(null).cast("string"))
      .write.mode(SaveMode.Overwrite).parquet(out)
    (out, rows.count(_._3 == "zh"))
  }

  // ------------------------------------------------------- raw triples

  /** One entity: its canonical surface and the surface variants that
    * should link to it (abbreviation, suffix form, near-duplicate). */
  final case class Entity(etype: String, base: String, variants: Vector[String])

  // 2500 contiguous CJK ideographs: a shingle universe of ~6M bigrams, so
  // unrelated keys rarely share MinHash bands (a small alphabet such as
  // hex digits collapses the bands into a few huge buckets)
  private def cjk(r: SplittableRandom): Char = (0x4E00 + r.nextInt(2500)).toChar
  private val OrgSuffix = Vector("集团", "公司", "有限公司", "股份")
  private val LocSuffix = Vector("市", "省", "区")

  private def name(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb.append(cjk(r)))
    sb.toString
  }

  /** `n` entities of one type with distinct keys (across `taken`). */
  def entities(r: SplittableRandom, etype: String, n: Int,
               taken: mutable.Set[String]): Vector[Entity] =
    Vector.fill(n) {
      var base = ""
      while (base.isEmpty || taken.contains(base)) base = etype match {
        case "PER" => name(r, 2 + r.nextInt(2))
        case "ORG" => name(r, 4 + r.nextInt(3))
        case _ => name(r, 2 + r.nextInt(3))
      }
      taken += base
      val vs = Vector.newBuilder[String]
      etype match {
        case "ORG" =>
          // 北京大学 → 北大: first char plus one later char
          if (r.nextDouble() < 0.3) vs += base.take(1) + base.charAt(2 + r.nextInt(base.length - 2))
          if (r.nextDouble() < 0.15) vs += base + OrgSuffix(r.nextInt(OrgSuffix.length))
          if (r.nextDouble() < 0.2) vs += base.dropRight(1) + cjk(r)
        case "LOC" =>
          if (r.nextDouble() < 0.15) vs += base + LocSuffix(r.nextInt(LocSuffix.length))
        case _ =>
      }
      val variants = vs.result().filterNot(taken.contains)
      taken ++= variants
      Entity(etype, base, variants)
    }

  /** Zipf(s = 1.1) rank sampler over `n` items: a few hot entities carry
    * most mentions, as 北京 and 阿里巴巴 do in the page corpus. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The entity pools triples draw from, per type. */
  final case class Pools(per: Vector[Entity], org: Vector[Entity], loc: Vector[Entity]) {
    lazy val zPer = new Zipf(per.length)
    lazy val zOrg = new Zipf(org.length)
    lazy val zLoc = new Zipf(loc.length)
    def all: Vector[Entity] = per ++ org ++ loc
    /** Three hot (Zipf head) and three cold (tail) people. */
    def lookupSubjects: Seq[String] = per.take(3).map(_.base) ++ per.takeRight(3).map(_.base)
  }

  type Raw = (String, String, String, String, String, String, String)
  val RawCols = Seq("subj", "subj_type", "subj_key", "pred", "obj", "obj_type", "obj_key")

  private def surface(r: SplittableRandom, e: Entity): String =
    if (e.variants.isEmpty || r.nextDouble() < 0.75) e.base
    else e.variants(r.nextInt(e.variants.length))

  private def raw(s: String, st: String, p: String, o: String, ot: String): Raw =
    (s, st, Text.normalizeMention(s), p, o, ot, Text.normalizeMention(o))

  /** One Zipf-drawn triple in the fixture's template shapes. */
  private def triple(r: SplittableRandom, p: Pools): Raw = {
    def per = surface(r, p.per(p.zPer.sample(r)))
    def org = surface(r, p.org(p.zOrg.sample(r)))
    def loc = surface(r, p.loc(p.zLoc.sample(r)))
    r.nextInt(10) match {
      case 0 | 1 | 2 | 3 => raw(per, "PER", "works_at", org, "ORG")
      case 4 | 5 => raw(per, "PER", "born_in", loc, "LOC")
      case 6 => raw(per, "PER", "lives_in", loc, "LOC")
      case 7 => raw(per, "PER", "graduated_from", org, "ORG")
      case _ => raw(org, "ORG", "located_in", loc, "LOC")
    }
  }

  /** Rows that mention every surface of `es` once (so every node exists),
    * each paired with a Zipf-drawn partner from `p`. */
  private def coverage(r: SplittableRandom, es: Vector[Entity], p: Pools): Vector[Raw] =
    es.flatMap { e =>
      (e.base +: e.variants).map { s =>
        e.etype match {
          case "PER" => raw(s, "PER", "works_at", surface(r, p.org(p.zOrg.sample(r))), "ORG")
          case "ORG" => raw(s, "ORG", "located_in", surface(r, p.loc(p.zLoc.sample(r))), "LOC")
          case _ => raw(surface(r, p.per(p.zPer.sample(r))), "PER", "born_in", s, "LOC")
        }
      }
    }

  private def writeRaw(spark: SparkSession, rows: Seq[Raw], path: String): Unit = {
    import spark.implicits._
    rows.toDF(RawCols: _*).coalesce(4).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Distinct (etype, norm_key) entity nodes the rows mention. */
  private def nodeKeys(rows: Seq[Raw]): Set[(String, String)] =
    rows.iterator.flatMap(t => Iterator((t._2, t._3), (t._6, t._7))).toSet

  /** What a raw-triple generator wrote: the entity pools lookups draw
    * subjects from (the first batch's, for batched input), rows per
    * table and distinct entity nodes over all tables. */
  final case class RawInput(pools: Pools, rows: Int, nodes: Int)

  /** kg_link input: one raw-triple table over `nPer`/`nOrg`/`nLoc`
    * entities plus their variants, `rows` rows in total. */
  def linkTriples(spark: SparkSession, seed: Long, nPer: Int, nOrg: Int, nLoc: Int,
                  rows: Int, path: String): RawInput = {
    val r = rng(seed, 2)
    val taken = mutable.HashSet.empty[String]
    val p = Pools(entities(r, "PER", nPer, taken), entities(r, "ORG", nOrg, taken),
      entities(r, "LOC", nLoc, taken))
    val cov = coverage(r, p.all, p)
    val all = cov ++ Vector.fill(math.max(0, rows - cov.length))(triple(r, p))
    writeRaw(spark, all, path)
    RawInput(p, all.length, nodeKeys(all).size)
  }

  /** Another raw surface of `base` with the same node key: a trailing
    * ideographic space (U+3000), which NFKC turns into a space that
    * `Text.normalizeMention` trims. Scraped CJK text carries such spaces. */
  private def spaced(base: String): String = base + "\u3000"

  /** Rows a batch reserves per surface flip. */
  private val FlipRows = 8

  /** kg_maintain input: `batches` equal micro-batches of `rows` raw
    * triples. Batch i introduces its own new entities; 70 % of its rows
    * are drawn among them and 30 % refer back to entities of earlier
    * batches (batch 0 is all new). Each later batch also flips the
    * surface of up to `flips` earlier people, the least mentioned first,
    * within `FlipRows` rows per flip: it mentions a person's spaced form
    * once more than the plain form has been mentioned so far, so the
    * node's most frequent surface changes and every triple of that
    * person is retracted and re-added.
    * Without them a batch retracts only where its back-references happen
    * to reorder surfaces, which on some seeds is nothing at all, and a
    * table with no delete files reads in half the time. The lookup
    * subjects never flip. Batch paths are `path-i`. */
  def maintainBatches(spark: SparkSession, seed: Long, batches: Int,
                      nPer: Int, nOrg: Int, nLoc: Int, rows: Int, flips: Int,
                      path: String): RawInput = {
    val r = rng(seed, 3)
    val taken = mutable.HashSet.empty[String]
    var old: Option[Pools] = None
    var first: Pools = null
    val nodes = mutable.HashSet.empty[(String, String)]
    // mentions per (etype, surface) over the batches written so far
    val mentions = mutable.HashMap.empty[(String, String), Int]
    def mention(rs: Seq[Raw], into: mutable.Map[(String, String), Int]): Unit =
      rs.foreach(t => Seq((t._2, t._1), (t._6, t._5)).foreach(k =>
        into(k) = into.getOrElse(k, 0) + 1))
    val flipped = mutable.HashSet.empty[String]
    var firstRows = 0
    (0 until batches).foreach { i =>
      val fresh = Pools(entities(r, "PER", nPer, taken), entities(r, "ORG", nOrg, taken),
        entities(r, "LOC", nLoc, taken))
      if (first == null) first = fresh
      val cov = coverage(r, fresh.all, fresh)
      val reserve = if (old.isEmpty) 0 else flips * FlipRows
      val rest = Vector.fill(math.max(0, rows - cov.length - reserve)) {
        old match {
          case Some(o) if r.nextInt(10) >= 7 => triple(r, o)
          case _ => triple(r, fresh)
        }
      }
      val flipRows = old.toVector.flatMap { o =>
        val now = mentions.clone()
        mention(cov ++ rest, now)
        val keep = first.lookupSubjects.toSet
        val coldest = o.per.filterNot(e => flipped(e.base) || keep(e.base))
          .map(e => (e, now.getOrElse(("PER", e.base), 0)))
          .sortBy { case (e, c) => (c, e.base) }.take(flips)
        coldest.zip(coldest.scanLeft(0)(_ + _._2 + 1).tail)
          .takeWhile(_._2 <= reserve).map(_._1)
          .flatMap { case (e, c) =>
            flipped += e.base
            Vector.fill(c + 1)(
              raw(spaced(e.base), "PER", "works_at", surface(r, o.org(o.zOrg.sample(r))), "ORG"))
          }
      }
      // fresh-only padding mentions no earlier person, so the flips hold
      val pad = Vector.fill(math.max(0, rows - cov.length - rest.length - flipRows.length))(
        triple(r, fresh))
      val all = cov ++ rest ++ flipRows ++ pad
      writeRaw(spark, all, s"$path-$i")
      mention(all, mentions)
      nodes ++= nodeKeys(all)
      if (i == 0) firstRows = all.length
      old = Some(old.fold(fresh)(o =>
        Pools(o.per ++ fresh.per, o.org ++ fresh.org, o.loc ++ fresh.loc)))
    }
    RawInput(first, firstRows, nodes.size)
  }
}
