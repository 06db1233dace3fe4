package perfbench

import java.time.LocalDate
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.GasPrices

/** gas_daily: the reference's daily cycle on one date-partitioned store.
  *
  * Set-up writes `HistoryDays` of seeded reports with `writeCanonical`
  * and runs `WarmupDays` warm-up days. Then, until the run's seconds are spent,
  * each simulated day (1) loads that day's pages — parse,
  * writeCanonical, fanOut, droppedRowCount — and (2) serves a closed
  * loop of `Clients` threads, each sending its next request when the
  * previous reply arrived; every request re-reads the store. */
object GasDaily {
  val HistoryDays = 20
  val Clients = 2
  val RequestsPerClientPerDay = 4
  val WarmupRequestsPerClient = 4
  val WarmupDays = 2

  private val schema = StructType(Seq(
    StructField("price", DecimalType(6, 1)), StructField("station", StringType),
    StructField("city", StringType), StructField("time", StringType),
    StructField("user", StringType), StructField("date", DateType)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gas = new Gen.Gas(ctx.seed)
    val store = ctx.path("gas/store")
    val fanPq = ctx.path("gas/sink_parquet")
    val fanJs = ctx.path("gas/sink_json")
    val kept = mutable.Map.empty[Int, Seq[Report]]
    val daySpans = mutable.ArrayBuffer.empty[(Span, LocalDate)]
    val reqSpans = mutable.ArrayBuffer.empty[(Span, String)]
    val loadS = mutable.ArrayBuffer.empty[Double]
    val latMs = mutable.ArrayBuffer.empty[Double]
    var serveWallS = 0.0

    // -- set-up: seeded history through the canonical writer
    tr.span("history", "cycle") { _ =>
      val rows = (0 until HistoryDays).flatMap { d =>
        kept(d) = gas.kept(d)
        gas.reports(d).map(r => Row(r.price.bigDecimal, r.station, r.city,
          r.time, r.user, java.sql.Date.valueOf(Gen.Epoch.plusDays(d.toLong))))
      }
      ctx.op("history.writeCanonical", 120) {
        tr.span("ingest.GasPrices.writeCanonical", "operation", newOp = true) { _ =>
          GasPrices.writeCanonical(
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema), store)
        }
      }
    }

    def loadDay(d: Int, timed: Boolean): Unit = tr.span(s"day", "cycle") { daySpan =>
      val gd = gas.day(d)
      kept(d) = gas.kept(d)
      val t0 = System.nanoTime()
      val dropped = ctx.op(s"day$d.load", 120) {
        val pages = spark.createDataFrame(gd.pages.zipWithIndex
          .map { case (h, i) => (i.toLong, h) }).toDF("page_id", "html")
        val parsed = tr.span("ingest.GasPrices.parse.construct", "construct", newOp = true) { _ =>
          GasPrices.parse(pages, gd.date)
        }
        tr.span("ingest.GasPrices.writeCanonical", "operation", newOp = true) { _ =>
          GasPrices.writeCanonical(parsed, store)
        }
        tr.span("ingest.GasPrices.fanOut", "operation", newOp = true) { _ =>
          GasPrices.fanOut(parsed, fanPq, fanJs)
        }
        tr.span("ingest.GasPrices.droppedRowCount", "operation", newOp = true) { _ =>
          GasPrices.droppedRowCount(pages)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      dropped.foreach { n =>
        // outside the timed region: compare the landed partition with
        // the benchmark's own keep-last of the rows it generated
        val landed = spark.read.parquet(store).filter(col("date") === lit(java.sql.Date.valueOf(gd.date)))
          .select("price", "station", "city", "time", "user").collect()
          .map(r => (BigDecimal(r.getDecimal(0)), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
          .sortBy(_._2).toSeq
        val want = kept(d).map(r => (r.price, r.station, r.city, r.time, r.user))
        ctx.check(s"day$d.load", landed == want && n == gd.misaligned,
          s"landed ${landed.size} rows (want ${want.size}), dropped $n (planted ${gd.misaligned})")
        if (timed) {
          loadS += wall
          daySpans += ((daySpan, gd.date))
        }
      }
    }

    def expectDay(d: Int): ((BigDecimal, String, String), (BigDecimal, String, String)) = {
      val k = kept(d)
      val hi = k.maxBy(_.price); val lo = k.minBy(_.price)
      ((hi.price, hi.station, hi.city), (lo.price, lo.station, lo.city))
    }

    /** One request: re-read the store, build the query, collect, check. */
    def request(client: Int, i: Long, kind: Int, today: Int): Option[Double] = {
      val day = kind match { case 0 => today; case 1 => gas.pastDay(client, i, today); case _ => -1 }
      val name = if (day >= 0) "ingest.GasPrices.topOfDay" else "ingest.GasPrices.topAllTime"
      tr.span("serve.request", "operation", newOp = true) { reqSpan =>
        val t0 = System.nanoTime()
        val got = ctx.op(s"request(c$client,#$i,${if (day >= 0) s"day $day" else "all-time"})", 30) {
          val df = tr.span("spark.filescan.read", "construct")(_ => spark.read.parquet(store))
          val q = tr.span(s"$name.construct", "construct") { _ =>
            if (day >= 0) GasPrices.topOfDay(df, Gen.Epoch.plusDays(day.toLong))
            else GasPrices.topAllTime(df)
          }
          tr.span(s"$name.execute", "execute")(_ => q.collect())
        }
        val ms = (System.nanoTime() - t0) / 1e6
        got.flatMap { rows =>
          val ok = rows.length == 1 && (if (day >= 0) {
            val (hi, lo) = expectDay(day)
            def t(r: Row) = (BigDecimal(r.getDecimal(0)), r.getString(1), r.getString(2))
            t(rows(0).getStruct(0)) == hi && t(rows(0).getStruct(1)) == lo
          } else {
            val all = (0 to today).flatMap(d => kept(d).map(r => (r, d)))
            val (hi, hd) = all.maxBy(_._1.price); val (lo, ld) = all.minBy(_._1.price)
            def t(r: Row) = (BigDecimal(r.getDecimal(0)), r.getString(1), r.getDate(5).toLocalDate)
            t(rows(0).getStruct(0)) == ((hi.price, hi.station, Gen.Epoch.plusDays(hd.toLong))) &&
              t(rows(0).getStruct(1)) == ((lo.price, lo.station, Gen.Epoch.plusDays(ld.toLong)))
          })
          if (ctx.check(s"request(c$client,#$i)", ok, rows.mkString(";"))) {
            if (tr.on) reqSpans.synchronized(reqSpans += ((reqSpan, name)))
            Some(ms)
          } else None
        }
      }
    }

    val pool = Executors.newFixedThreadPool(Clients)
    var reqNo = 0L
    def serve(today: Int, perClient: Int, timed: Boolean): Unit = tr.span("serve", "cycle") { _ =>
      val parent = tr.current
      val base = reqNo
      reqNo += perClient
      val t0 = System.nanoTime()
      val futs = (0 until Clients).map { c =>
        pool.submit(new java.util.concurrent.Callable[Seq[Double]] {
          def call(): Seq[Double] = tr.adopt(parent) {
            gas.requests(c, (base + perClient).toInt).drop(base.toInt).zipWithIndex
              .flatMap { case (kind, j) => request(c, base + j, kind, today) }
          }
        })
      }
      val lats = futs.flatMap(_.get())
      if (timed) synchronized {
        serveWallS += (System.nanoTime() - t0) / 1e9
        latMs ++= lats
      }
    }

    // -- warm-up day, then the timed days
    val w0 = System.nanoTime()
    (HistoryDays until HistoryDays + WarmupDays).foreach(loadDay(_, timed = false))
    val w1 = System.nanoTime()
    serve(HistoryDays + WarmupDays - 1, WarmupRequestsPerClient, timed = false)
    ctx.setupDone()
    System.err.println(f"perfbench: set-up ${ctx.setupS}%.2f s (warm-up load ${(w1 - w0) / 1e9}%.2f s, " +
      f"warm-up serving ${(System.nanoTime() - w1) / 1e9}%.2f s)")
    val start = System.nanoTime()
    var d = HistoryDays + WarmupDays
    while ((System.nanoTime() - start) / 1e9 < ctx.seconds) {
      loadDay(d, timed = true)
      serve(d, RequestsPerClientPerDay, timed = true)
      ctx.settle()
      d += 1
    }
    pool.shutdown()
    pool.awaitTermination(60, TimeUnit.SECONDS)

    val (tail, pct) = Stats.tail(latMs.toSeq)
    ctx.e2e("step_s") = Stats.median(loadS.toSeq)
    ctx.e2e("op_p50_ms") = Stats.median(latMs.toSeq)
    ctx.e2e("op_tail_ms") = tail
    ctx.e2e("rate_per_s") = latMs.size / serveWallS
    System.err.println(f"perfbench: gas_daily ${d - HistoryDays - WarmupDays} days, ${latMs.size} requests, " +
      f"tail = p$pct%.1f")
    if (tr.on) layerStats(ctx, daySpans.toSeq, reqSpans.toSeq, store, fanPq, fanJs)
  }

  /** Per-layer medians over the timed days and requests, read from the
    * spans once every listener event has arrived. */
  private def layerStats(ctx: Ctx, days: Seq[(Span, LocalDate)],
      reqs: Seq[(Span, String)], store: String, fanPq: String, fanJs: String): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val byParent = tr.all.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil)
    def ms(s: Span, n: String) = kids(s).filter(_.name == n).map(k => (k.end - k.start) / 1e6).sum
    def med(xs: Seq[Double]) = Stats.median(xs)
    val dayRows = days.map { case (s, date) =>
      val part = s"date=$date"
      Map(
        "ingest.GasPrices.parse.construct_ms" -> ms(s, "ingest.GasPrices.parse.construct"),
        "ingest.GasPrices.writeCanonical.ms" -> ms(s, "ingest.GasPrices.writeCanonical"),
        "ingest.GasPrices.writeCanonical.files_written" -> Stats.files(s"$store/$part")._1.toDouble,
        "ingest.GasPrices.writeCanonical.bytes_written" -> Stats.files(s"$store/$part")._2.toDouble,
        "ingest.GasPrices.fanOut.ms" -> ms(s, "ingest.GasPrices.fanOut"),
        "ingest.GasPrices.fanOut.files_written" ->
          (Stats.files(s"$fanPq/$part")._1 + Stats.files(s"$fanJs/dt=$date")._1).toDouble,
        "ingest.GasPrices.droppedRowCount.ms" -> ms(s, "ingest.GasPrices.droppedRowCount"),
        // the day span's own jobs are the output check, not the load
        "spark.scheduler.jobs_per_day" -> kids(s).map(_.counts.jobs.sum.toDouble).sum)
    }
    val reqRows = reqs.map { case (s, name) =>
      val c = (s +: kids(s)).map(_.counts)
      Map(
        "spark.filescan.read_ms" -> ms(s, "spark.filescan.read"),
        "spark.filescan.files_per_req" -> c.map(_.scanFiles.sum).sum.toDouble,
        "spark.filescan.rows_per_req" -> c.map(_.scanRows.sum).sum.toDouble,
        s"$name.construct_ms" -> ms(s, s"$name.construct"),
        "spark.catalyst.ms_per_req" -> c.map(_.catalystMs.sum).sum,
        "spark.exec.ms_per_req" -> c.map(_.execMs.sum).sum,
        "spark.scheduler.jobs_per_req" -> c.map(_.jobs.sum).sum.toDouble,
        "spark.scheduler.tasks_per_req" -> c.map(_.tasks.sum).sum.toDouble)
    }
    (dayRows ++ reqRows).flatMap(_.keys).distinct.foreach { k =>
      ctx.layer(k) = med((dayRows ++ reqRows).flatMap(_.get(k)))
    }
  }
}
