package perfbench

import java.security.MessageDigest

/** Self-test of the seeded input generators; needs no Spark.
  *  - the same seed gives byte-identical inputs;
  *  - a different seed gives different inputs;
  *  - the misalignment each gas page plants, counted independently
  *    from the HTML, equals the count the generator reports;
  *  - prices are distinct, so every argmax/argmin has one answer. */
object SelfTest {
  private val fakeCorpus = (0L until 50L).map(i => (i * 5, s"corpus text $i " * 4))

  /** Every seeded input of a run, serialized. */
  def inputs(seed: Long): Array[Byte] = {
    val sb = new StringBuilder
    val gas = new Gen.Gas(seed)
    (0 to GasDaily.HistoryDays + 5).foreach { d =>
      val day = gas.day(d)
      sb ++= day.pages.mkString("\n") ++= day.reports.mkString("\n") ++= day.misaligned.toString
    }
    (0 until GasDaily.Clients).foreach { c =>
      sb ++= gas.requests(c, 500).mkString(",")
      sb ++= (1L to 100L).map(i => gas.pastDay(c, i, 40)).mkString(",")
    }
    (0 until 4).foreach(p => sb ++= Gen.callOrder(seed, p, CorpusBatch.ops.size).mkString(","))
    Gen.ingestBatches(seed, fakeCorpus, 4).foreach(b => sb ++= b.toString)
    sb.toString.getBytes("UTF-8")
  }

  private def sha(b: Array[Byte]) =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  def run(): Int = {
    val checks = Seq.newBuilder[(String, Boolean)]
    Seq(1L, 7L, 12345L).foreach { s =>
      checks += s"seed $s: same seed, same bytes" -> (sha(inputs(s)) == sha(inputs(s)))
      checks += s"seed $s vs ${s + 1}: inputs differ" -> (sha(inputs(s)) != sha(inputs(s + 1)))
      val gas = new Gen.Gas(s)
      val days = (0 until 40).map(gas.day)
      checks += s"seed $s: planted misalignment counted exactly" -> days.forall { d =>
        d.misaligned == d.pages.map { p =>
          val l = Gen.familyLengths(p); (l.max - l.min).toLong
        }.sum
      }
      checks += s"seed $s: some pages are misaligned" -> days.exists(_.misaligned > 0)
      val prices = days.flatMap(_.reports.map(_.price))
      checks += s"seed $s: prices distinct" -> (prices.distinct.size == prices.size)
      checks += s"seed $s: stations repeat within a day" ->
        days.forall(d => gas.kept(d.date.toEpochDay.toInt - Gen.Epoch.toEpochDay.toInt).size < d.reports.size)
      val b = Gen.ingestBatches(s, fakeCorpus, 3)
      checks += s"seed $s: ingest batches hold the planted mix" -> b.forall { x =>
        val ids = fakeCorpus.map(_._1).toSet
        x.docs.count(d => ids(d.id)) == x.redelivered &&
          x.docs.count(d => fakeCorpus.exists(_._2 == d.text)) == x.exact &&
          x.docs.map(_.id).distinct.size == x.docs.size
      }
    }
    val results = checks.result()
    results.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} $n") }
    val failed = results.count(!_._2)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }
}
