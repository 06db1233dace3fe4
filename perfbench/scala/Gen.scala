package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

/** One gas-price report as the benchmark knows it: what the page says,
  * already whitespace-normalized the way the parser must read it. */
final case class Report(price: BigDecimal, station: String, city: String,
    time: String, user: String, minute: Int)

/** One generated day: the HTML pages fed to the parser, the reports
  * they hold (aligned rows only) and the number of cells planted past
  * the end of a shorter cell family, which the parser must drop. */
final case class GasDay(date: LocalDate, pages: Seq[String],
    reports: Seq[Report], misaligned: Long)

/** Seeded generators for every input the benchmark feeds the program.
  * Same seed, same bytes: nothing here reads a clock or a global RNG. */
object Gen {
  val Epoch: LocalDate = LocalDate.of(2026, 1, 1)

  private val brands = Seq("Esso", "Shell", "Petro-Canada", "Ultramar",
    "Costco", "Pioneer", "Crevier", "Irving")
  private val streets = Seq("Du Commerce / René Lévesque",
    "Boul. Saint-Laurent", "Av Pierre-De Coubertin", "Boul Newman",
    "Rue Sainte-Catherine", "Ch. de la Côte-des-Neiges", "Aut. 440")
  private val cities = Seq("Montréal", "Laval", "Verdun ( Île des Soeurs )",
    "LaSalle", "Longueuil", "Brossard", "Saint-Léonard")
  private val priceClasses = Seq("pricecell", "greencell", "redcell")
  private val families = Seq("pricecell", "stationcell", "citycell", "usercell")

  /** Gas-price domain generator. Prices are distinct across the whole
    * run (an affine permutation of the report index), so every argmax
    * and argmin has exactly one answer. */
  final class Gas(seed: Long) {
    private val stations = 400
    private val perDay = 500
    private val pagesPerDay = 4
    private val Mod = 100003L // prime > every report index used
    private val mul = 7919L + new SplittableRandom(seed).nextLong(1000L) * 2L
    private val off = new SplittableRandom(seed ^ 0x5eedL).nextLong(Mod)

    private val names: IndexedSeq[(String, String)] = {
      val r = new SplittableRandom(seed)
      (0 until stations).map { i =>
        (s"${brands(r.nextInt(brands.size))} $i ${streets(r.nextInt(streets.size))}",
          cities(r.nextInt(cities.size)))
      }
    }

    private def rng(day: Int) = new SplittableRandom(seed * 1000003L + day)

    private def time12(minute: Int): String = {
      val h = minute / 60; val m = minute % 60
      val h12 = if (h % 12 == 0) 12 else h % 12
      f"$h12%d:$m%02d${if (h < 12) "AM" else "PM"}"
    }

    /** The day's reports, in page order: stations repeat within a day
      * (a later report of a station supersedes an earlier one), and no
      * station reports twice in the same minute. */
    def reports(day: Int): Seq[Report] = {
      require(day.toLong * perDay + perDay < Mod, "day beyond the price range")
      val r = rng(day)
      val used = scala.collection.mutable.HashSet.empty[(Int, Int)]
      (0 until perDay).map { i =>
        val st = r.nextInt(stations)
        var minute = r.nextInt(1440)
        while (!used.add((st, minute))) minute = r.nextInt(1440)
        val idx = day.toLong * perDay + i
        val tenths = 1000L + (idx * mul + off) % Mod
        val user = if (r.nextInt(5) == 0) "" else s"user${r.nextInt(900)}"
        Report(BigDecimal(tenths, 1), names(st)._1, names(st)._2,
          time12(minute), user, minute)
      }
    }

    /** Keep-last per station: the report with the latest minute. */
    def kept(day: Int): Seq[Report] =
      reports(day).groupBy(_.station).values.map(_.maxBy(_.minute)).toSeq
        .sortBy(_.station)

    /** The day's pages: rows split across pages, with cell markup the
      * parser must strip, doubled spaces it must collapse, and on some
      * pages extra trailing cells of one family that the positional
      * zip must drop (their prices would win the day if they landed). */
    def day(d: Int): GasDay = {
      val r = rng(d + 500000)
      val rows = reports(d)
      val per = (rows.size + pagesPerDay - 1) / pagesPerDay
      var planted = 0L
      val pages = rows.grouped(per).toSeq.map { pg =>
        val sb = new StringBuilder("<table>\n")
        pg.foreach { x =>
          val price = if (r.nextInt(3) == 0) s"<b>${x.price}</b>" else x.price.toString
          val station = x.station.replace(" ", if (r.nextInt(4) == 0) "  " else " ")
          val tu = if (x.user.isEmpty) x.time else s"${x.time} ${x.user}"
          sb ++= s"""<tr><td class="${priceClasses(r.nextInt(3))}">$price</td>""" +
            s"""<td class="stationcell">$station</td><td class="citycell">${x.city}</td>""" +
            s"""<td class="usercell">$tu</td></tr>\n"""
        }
        val extra = r.nextInt(4)
        if (extra > 0) {
          val fam = families(r.nextInt(families.size))
          planted += extra
          (0 until extra).foreach { k =>
            val body = fam match {
              case "pricecell" => s"999.${k + 1}"
              case "stationcell" => s"Orphan $k"
              case "citycell" => "Nowhere"
              case _ => "11:59PM ghost"
            }
            sb ++= s"""<tr><td class="$fam">$body</td></tr>\n"""
          }
        }
        sb ++= "</table>"
        sb.toString
      }
      GasDay(Epoch.plusDays(d.toLong), pages, rows, planted)
    }

    /** A client's request stream: 0 = today, 1 = a past day, 2 = all
      * time, in a 75/15/10 mix. */
    def requests(client: Int, n: Int): Seq[Int] = {
      val r = new SplittableRandom(seed * 31L + 7L * client + 1L)
      Seq.fill(n) { val u = r.nextInt(100); if (u < 75) 0 else if (u < 90) 1 else 2 }
    }

    def pastDay(client: Int, i: Long, today: Int): Int =
      new SplittableRandom(seed * 131L + client * 1000003L + i).nextInt(today)
  }

  /** Independent word counter used by the self-test and the gas check:
    * the misalignment a page plants is the longest cell family minus
    * the shortest, counted with plain string matching. */
  def familyLengths(page: String): Seq[Int] = Seq(
    Seq("pricecell", "greencell", "redcell").map(c => count(page, s"""class="$c"""")).sum,
    count(page, "class=\"stationcell\""), count(page, "class=\"citycell\""),
    count(page, "class=\"usercell\""))

  private def count(s: String, pat: String): Int = {
    var n = 0; var i = s.indexOf(pat)
    while (i >= 0) { n += 1; i = s.indexOf(pat, i + 1) }
    n
  }

  // -- corpus ---------------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val langs = Seq("es", "fr", "de", "zh")

  /** The fixed corpus: planted exact-duplicate pairs, exact groups of
    * four and truncation near-duplicates, so every dedup layer has real
    * work; its seed is a constant so its outputs can be pinned. The
    * stream dedup calls replay the docs with id % 10 == 0 against an
    * index of the rest, so id % 100 == 31 copies its predecessor
    * exactly and id % 100 == 61 extends its predecessor: both pairs
    * cross that split. */
  val CorpusSeed = 20260101L

  def documents(n: Int): Seq[Doc] = {
    def words(eff: Long): String = {
      val r = new SplittableRandom(CorpusSeed * 7919L + eff)
      Seq.fill(10 + r.nextInt(51))(vocab(r.nextInt(vocab.size))).mkString(" ")
    }
    (0L until n.toLong).map { id =>
      val eff = if (id % 100 >= 97) id - id % 100 + 96
        else if (id % 25 == 24 || id % 100 == 31) id - 1 else id
      val text = if (id % 40 == 39 || id % 100 == 61) words(id - 1) + " the fast scan beats the sort"
        else words(eff)
      val r = new SplittableRandom(CorpusSeed + 31L * id)
      Doc(id, text, if (r.nextInt(100) < 41) "en" else langs(r.nextInt(4)),
        s"src${r.nextInt(20)}")
    }
  }

  /** Unit-norm 64-dim embeddings with 10 labels. */
  def embeddings(n: Int): Seq[(Long, Array[Float], Int)] =
    (0L until n.toLong).map { id =>
      val r = new SplittableRandom(CorpusSeed * 31L + id)
      val raw = Array.fill(64)(r.nextDouble() * 2 - 1)
      val norm = math.sqrt(raw.map(x => x * x).sum)
      (id, raw.map(x => (x / norm).toFloat), r.nextInt(10))
    }

  /** The seeded order of corpus_batch's calls in pass `pass`. */
  def callOrder(seed: Long, pass: Int, n: Int): Seq[Int] = {
    val r = new SplittableRandom(seed * 65537L + pass)
    val a = (0 until n).toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  /** One ingest micro-batch and the audit it must produce. */
  final case class IngestBatch(docs: Seq[Doc], novel: Int, exact: Int, redelivered: Int)

  /** Micro-batches against a corpus whose doc ids and texts are
    * `corpus`: novel documents on fresh 20-id blocks (new media
    * groups, so no image or audio near-duplicate can exist), exact
    * copies of corpus texts under fresh ids, and corpus ids
    * re-delivered with other text. */
  def ingestBatches(seed: Long, corpus: IndexedSeq[(Long, String)],
      batches: Int): Seq[IngestBatch] = {
    val (novel, exact, redelivered) = (8, 4, 4)
    val base = (corpus.map(_._1).max / 20 + 2) * 20
    val r = new SplittableRandom(seed)
    val tag = java.lang.Long.toString(seed & 0xffffffL, 36)
    (0 until batches).map { b =>
      val nv = (0 until novel).map { i =>
        Doc(base + (b * novel + i) * 20L,
          (0 until 12).map(j => s"n${tag}b${b}i${i}w$j").mkString(" "), "en", "src0")
      }
      val ex = (0 until exact).map { i =>
        val (_, text) = corpus(r.nextInt(corpus.size))
        Doc(base + 1000000L + b * 100L + i, text, "en", "src1")
      }
      val ids = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (ids.size < redelivered) ids += corpus(r.nextInt(corpus.size))._1
      val rd = ids.toSeq.zipWithIndex.map { case (id, i) =>
        Doc(id, s"redelivered $tag $b $i", "en", "src2")
      }
      val all = nv ++ ex ++ rd
      val order = callOrder(seed + b, 0, all.size)
      IngestBatch(order.map(all), novel, exact, redelivered)
    }
  }
}
