package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.sources.StpRegistry

/** Seeded, download-free input generators. Every file is a pure function
  * of (seed, sizes): the same seed writes byte-identical files, and the
  * library sees nothing but these files. Each generator also returns the
  * ground truth its workload's output checks compare against. */
object Gen {

  def rng(seed: Long, stream: Long) = new SplittableRandom(seed * 1000003L + stream)

  def writeAscii(path: File)(body: OutputStream => Unit): Long = {
    path.getParentFile.mkdirs()
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try body(out) finally out.close()
    path.length()
  }

  // ---------------------------------------------------------------- transit

  /** One month of a Muni-shaped system. Sizes are per direction. */
  final case class TransitSize(routes: Int, weekdayTrips: Int,
      weekendTrips: Int, stops: Int)

  val Month = LocalDate.of(2015, 4, 1)
  val Days = Month.lengthOfMonth
  /** AVL route renamed mid-month: the same ROUTE_AVL maps to two short
    * names with disjoint validity windows (F2). */
  val RenamedRoute = 5
  val RenameDay = 15
  /** Day re-delivered unchanged, and day whose counts arrive corrected. */
  val RedeliveredDay = 2
  val CorrectedDay = 1

  /** One delivered day's file: anomaly counts and what it schedules.
    * The checks conserve stage row counts against these. */
  final case class DayTruth(lines: Long, headers: Long, misaligned: Long,
      qcFail: Long, nonRevenue: Long, duplicates: Long, valid: Long,
      validOn: Long, schedTrips: Long, schedTripStops: Long, routeDirs: Long)

  /** The month: the final delivery of each day, and the lines of every
    * file written (by path under the input directory). */
  final case class TransitTruth(days: Map[Int, DayTruth],
      linesByFile: Map[String, Long])

  def dayType(d: LocalDate): String = d.getDayOfWeek.getValue match {
    case 6 => "SAT"
    case 7 => "SUN"
    case _ => "WKDY"
  }

  private def tripsPerDir(s: TransitSize, dt: String) =
    if (dt == "WKDY") s.weekdayTrips else s.weekendTrips

  /** First departure (seconds after service midnight) and headway: the
    * last trips of every route run past midnight (>= 24:00:00, E1). */
  private def departure(s: TransitSize, dt: String, trip: Int): Int = {
    val n = tripsPerDir(s, dt)
    val first = 5 * 3600
    val last = 24 * 3600 + 20 * 60
    first + (last - first) * trip / math.max(1, n - 1)
  }
  private val StopGapSec = 150

  private def hhmmss(sec: Int): Int =
    (sec / 3600) * 10000 + (sec / 60 % 60) * 100 + sec % 60
  private def gtfsTime(sec: Int): String =
    f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  /** Trip number, unique within (route, dir, day type); < 9999 (F3). */
  private def tripNo(dt: String, trip: Int): Int = dt match {
    case "WKDY" => 1000 + trip
    case "SAT"  => 3000 + trip
    case _      => 5000 + trip
  }

  /** STP lines over all 98 registry windows: numbers right-justified,
    * strings left-justified, inter-window gaps as spaces. A line starts
    * from a template of defaults (0, or blank for strings) and only the
    * fields set are rewritten. */
  private object Stp {
    private val es = StpRegistry.entries.toArray
    val index: Map[String, Int] = es.map(_.name).zipWithIndex.toMap
    val width: Int = es.map(_.end).max
    private val template: Array[Byte] = {
      val t = Array.fill[Byte](width + 1)(' ')
      t(width) = '\n'
      es.foreach(e => if (e.kind != 'S' && e.end > e.start) t(e.end - 1) = '0')
      t
    }
    def line(values: Array[String]): Array[Byte] = {
      val out = template.clone()
      var i = 0
      while (i < es.length) {
        val v = values(i)
        if (v != null) {
          val e = es(i)
          val w = e.end - e.start
          require(v.length <= w, s"${e.name}=$v overflows $w")
          val from = if (e.kind == 'S') e.start else e.end - v.length
          var k = e.start
          while (k < e.end) { out(k) = ' '; k += 1 }
          k = 0
          while (k < v.length) { out(from + k) = v.charAt(k).toByte; k += 1 }
        }
        i += 1
      }
      out
    }
    def fields(kv: (String, String)*): Array[String] = {
      val a = new Array[String](es.length)
      kv.foreach { case (k, v) => a(index(k)) = v }
      a
    }
    val header: Array[Byte] =
      line(es.map(e => if (e.name == "SEQ") "ID" else e.name.take(e.end - e.start)))
    val rule: Array[Byte] = ("-" * 60 + "\n").getBytes(US_ASCII)
  }

  /** One service day's STP file. Both versions of the corrected day
    * draw from the same stream; the correction only adds boardings. */
  private def dayFile(f: File, seed: Long, size: TransitSize, day: Int,
      corrected: Boolean): DayTruth = {
    val d = Month.withDayOfMonth(day)
    val dt = dayType(d)
    val r = rng(seed, 100 + day)
    var n, headers, misaligned, qc, nonRev, dups, valid, validOn = 0L
    val I = Stp.index
    val bytes = writeAscii(f) { out =>
      def emit(line: Array[Byte]): Unit = { out.write(line); n += 1 }
      emit(Stp.header); emit(Stp.rule)
      headers += 2
      val mdy = "%02d%02d%02d".format(d.getMonthValue, d.getDayOfMonth, d.getYear % 100)
      val dow = dt match { case "WKDY" => "1"; case "SAT" => "2"; case _ => "3" }
      val phase = r.nextInt(600)
      var row = 0
      for (route <- 1 to size.routes; dir <- 0 to 1) {
        val trips = tripsPerDir(size, dt)
        // a pull-out row per route-direction: non-revenue DIR 6/7/8
        emit(Stp.line(Stp.fields("SEQ" -> "1", "ROUTE_AVL" -> route.toString,
          "DIR" -> (6 + r.nextInt(3)).toString, "TRIP" -> "9999",
          "DATE_INT" -> mdy, "ARRIVAL_TIME_INT" -> "43000",
          "DEPARTURE_TIME_INT" -> "43000", "DOW" -> dow)))
        nonRev += 1
        val v = Stp.fields("DATE_INT" -> mdy, "ROUTE_AVL" -> route.toString,
          "PATTERN" -> s"P${route}_$dir", "LAT" -> (37.7 + route * 0.001).toString.take(8),
          "DOW" -> dow, "DIR" -> dir.toString, "CAPACITY" -> "63",
          "PATTCODE" -> s"PC$route$dir", "PULLOUT_INT" -> "43000")
        // 15% of trips go unobserved, chosen at random; trip 0 of every
        // route-direction is always observed, so every scheduled group
        // has a weight base. Counts are fixed, so every seed writes the
        // same number of lines.
        val unobserved = {
          val rest = Array.tabulate(trips - 1)(_ + 1)
          for (i <- rest.indices.reverse) {
            val j = r.nextInt(i + 1); val t = rest(i); rest(i) = rest(j); rest(j) = t
          }
          rest.take((trips - 1) * 15 / 100).toSet
        }
        for (trip <- 0 until trips) {
          val observed = !unobserved.contains(trip)
          val dep0 = departure(size, dt, trip)
          v(I("TRIP")) = tripNo(dt, trip).toString
          v(I("BLOCK")) = (route * 100 + trip % 50).toString
          v(I("VEHNO")) = (1000 + route * 10 + trip % 10).toString
          var load = 0
          for (seq <- 1 to size.stops) {
            val boardings = if (seq == size.stops) 0 else r.nextInt(6)
            val alightings = if (seq == size.stops) load else math.min(load, r.nextInt(4))
            val dev = r.nextInt(420) - 60
            val extra = if (r.nextInt(10) == 0 && corrected && seq < size.stops) 1 else 0
            val noise = r.nextInt(1 << 20)
            if (observed) {
              // anomalies at fixed rates from seeded phases
              row += 1
              val (dup, mis, qcf) = ((row + phase) % 200 == 0, (row + phase) % 300 == 7,
                (row + phase) % 250 == 3)
              val on = boardings + extra
              load = load - alightings + on
              val arr = dep0 + (seq - 1) * StopGapSec + dev
              val depT = arr + (if (seq == 1 || seq == size.stops) 0 else 20)
              v(I("SEQ")) = seq.toString
              v(I("STOP_AVL")) = (route * 100 + seq).toString
              v(I("STOPNAME_AVL")) = if (seq == size.stops) s"STOP $seq - EOL" else s"STOP $seq"
              v(I("ARRIVAL_TIME_INT")) = hhmmss(arr).toString
              v(I("DEPARTURE_TIME_INT")) = hhmmss(depT).toString
              v(I("ON")) = on.toString
              v(I("OFF")) = alightings.toString
              v(I("LOAD_DEP")) = load.toString
              v(I("LON")) = (122.4 + seq * 0.001).toString.take(9)
              v(I("SERVMILES")) = (0.1 + seq % 5 * 0.05).toString.take(5)
              v(I("QC201")) = (noise % 20).toString
              v(I("RDBRDNGS")) = (noise % 999).toString
              val line = Stp.line(v)
              emit(line); valid += 1; validOn += on
              // duplicates: exact repeats of the line just written
              if (dup) { emit(line); dups += 1 }
              // misaligned rows: RDBRDNGS spills past 999 (F1)
              if (mis) {
                v(I("RDBRDNGS")) = (1000 + noise % 8000).toString
                emit(Stp.line(v)); misaligned += 1
              }
              // count-QC failures: QC201 over 20
              if (qcf) {
                v(I("RDBRDNGS")) = (noise % 999).toString
                v(I("QC201")) = (21 + noise % 70).toString
                emit(Stp.line(v)); qc += 1
              }
            }
          }
          // a mid-file header where two extracts were concatenated
          if (route == (size.routes + 1) / 2 && dir == 1 && trip == trips / 2) {
            emit(Stp.header); headers += 1
          }
        }
      }
    }
    val sched = tripsPerDir(size, dt).toLong * 2 * size.routes
    DayTruth(n, headers, misaligned, qc, nonRev, dups, valid, validOn, sched,
      sched * size.stops, 2L * size.routes)
  }

  /** Writes the month, or the days of it in `only` (each day's file is
    * the same either way): `avl_month/dDD.stp` (final deliveries, the
    * corrected day included), `avl_orig/dCC.stp` (the corrected day as
    * first delivered), `routeEquiv.csv` and `gtfs.zip`. The truth
    * describes the final deliveries. */
  def transit(dir: File, seed: Long, size: TransitSize,
      only: Seq[Int] = 1 to Days): TransitTruth = {
    val linesByFile = scala.collection.mutable.LinkedHashMap[String, Long]()
    val days = only.map { day =>
      val name = f"d$day%02d.stp"
      if (day == CorrectedDay) {
        val orig = dayFile(new File(dir, s"avl_orig/$name"), seed, size, day, corrected = false)
        linesByFile(s"avl_orig/$name") = orig.lines
      }
      val t = dayFile(new File(dir, s"avl_month/$name"), seed, size, day, corrected = true)
      linesByFile(s"avl_month/$name") = t.lines
      day -> t
    }.toMap

    // route equivalence: the renamed route has two disjoint windows
    writeAscii(new File(dir, "routeEquiv.csv")) { out =>
      val s = new StringBuilder("ROUTE_AVL,AGENCY_ID,ROUTE_SHORT_NAME,START_DATE,END_DATE\n")
      val end = Month.plusMonths(1)
      val rename = Month.withDayOfMonth(RenameDay)
      for (route <- 1 to size.routes) {
        if (route == RenamedRoute) {
          s.append(s"$route,MUNI,5L,$Month,$rename\n")
          s.append(s"$route,MUNI,5R,$rename,$end\n")
        } else s.append(s"$route,MUNI,R$route,$Month,$end\n")
      }
      out.write(s.toString.getBytes(US_ASCII))
    }

    // GTFS feed over the same trips. Service ids split the renamed
    // route's calendar at the rename date.
    val last = Month.withDayOfMonth(Days)
    val rename = Month.withDayOfMonth(RenameDay)
    def ymd(d: LocalDate) = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
    val periods = Seq(("", Month, last), ("_A", Month, rename.minusDays(1)), ("_B", rename, last))
    val calendar = new StringBuilder(
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n")
    for ((suffix, from, to) <- periods; dt <- Seq("WKDY", "SAT", "SUN")) {
      val flags = dt match {
        case "WKDY" => "1,1,1,1,1,0,0"
        case "SAT"  => "0,0,0,0,0,1,0"
        case _      => "0,0,0,0,0,0,1"
      }
      calendar.append(s"$dt$suffix,$flags,${ymd(from)},${ymd(to)}\n")
    }
    val routes = new StringBuilder("route_id,agency_id,route_short_name,route_long_name,route_type\n")
    val trips = new StringBuilder("route_id,service_id,trip_id,direction_id,trip_headsign,shape_id\n")
    val stopTimes = new StringBuilder(
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence,shape_dist_traveled\n")
    val stops = new StringBuilder("stop_id,stop_name,stop_x,stop_y\n")
    val fareRules = new StringBuilder("fare_id,route_id\n")
    val variants = (1 to size.routes).flatMap { route =>
      if (route == RenamedRoute) Seq(("5L", route, "_A"), ("5R", route, "_B"))
      else Seq((s"R$route", route, ""))
    }
    for (route <- 1 to size.routes; dir <- 0 to 1; seq <- 1 to size.stops) {
      val id = route * 100 + seq
      if (dir == 0) stops.append(s"$id,STOP $seq,${seq * 1500.0},${route * 2000.0}\n")
    }
    for ((short, route, suffix) <- variants) {
      routes.append(s"$short,MUNI,$short,Route $short,3\n")
      fareRules.append(s"ADULT,$short\n")
      for (dt <- Seq("WKDY", "SAT", "SUN"); dir <- 0 to 1;
           trip <- 0 until tripsPerDir(size, dt)) {
        val tid = s"$short-$dt$suffix-$dir-T${tripNo(dt, trip)}"
        trips.append(s"$short,$dt$suffix,$tid,$dir,$short,S$route\n")
        val dep0 = departure(size, dt, trip)
        for (seq <- 1 to size.stops) {
          val arr = dep0 + (seq - 1) * StopGapSec
          val dep = arr + (if (seq == 1 || seq == size.stops) 0 else 20)
          val stopId = route * 100 + seq
          stopTimes.append(
            s"$tid,${gtfsTime(arr)},${gtfsTime(dep)},$stopId,$seq,${(seq - 1) * 457.2}\n")
        }
      }
    }
    writeZipFile(new File(dir, "gtfs.zip"), Seq(
      "routes.txt" -> routes.toString, "trips.txt" -> trips.toString,
      "stop_times.txt" -> stopTimes.toString, "calendar.txt" -> calendar.toString,
      "stops.txt" -> stops.toString,
      "fare_attributes.txt" -> "fare_id,price,currency_type,payment_method,transfers\nADULT,2.25,USD,0,\n",
      "fare_rules.txt" -> fareRules.toString))
    TransitTruth(days, linesByFile.toMap)
  }

  /** Zip with fixed entry times, so the archive bytes repeat. */
  def writeZipFile(f: File, members: Seq[(String, String)]): Long = {
    f.getParentFile.mkdirs()
    val out = new ZipOutputStream(new FileOutputStream(f))
    try members.foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(1420070400000L)
      out.putNextEntry(e)
      out.write(body.getBytes(US_ASCII))
      out.closeEntry()
    } finally out.close()
    f.length()
  }

  // ------------------------------------------------------------------ graph

  /** Card->stop taps: `components` planted districts, each with its own
    * cards and stops; stop popularity is Zipf-skewed inside a district,
    * so a few hub stops carry most taps. Plus `pairs` isolated
    * card-stop pairs (two-node components). Node ids: cards first. */
  final case class GraphSize(components: Int, cardsPer: Int, stopsPer: Int,
      tapsPerCard: Int, pairs: Int)

  final case class GraphTruth(edges: Long, components: Int)

  def graph(dir: File, seed: Long, size: GraphSize): GraphTruth = {
    val r = rng(seed, 7)
    val cards = size.components * size.cardsPer + size.pairs
    // Zipf(1.1) cumulative weights over a district's stops
    val w = (1 to size.stopsPer).map(i => 1.0 / math.pow(i, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    def zipf(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(size.stopsPer - 1, if (i >= 0) i else -i - 1)
    }
    var edges = 0L
    val seen = new java.util.HashSet[Long]()
    require(size.tapsPerCard <= size.stopsPer, "more taps per card than stops")
    writeAscii(new File(dir, "taps.csv")) { out =>
      val sb = new StringBuilder
      for (c <- 0 until size.components; k <- 0 until size.cardsPer) {
        val card = c.toLong * size.cardsPer + k
        seen.clear()
        // the first tap chains the district together: card k taps stop
        // k mod stopsPer, so no district splits into several components
        // then Zipf draws until the card has tapsPerCard distinct stops
        var s = k % size.stopsPer
        while (seen.size < size.tapsPerCard) {
          val stop = cards.toLong + c.toLong * size.stopsPer + s
          if (seen.add(stop)) { sb.append(card).append(',').append(stop).append('\n'); edges += 1 }
          s = zipf()
        }
        if (sb.length > (1 << 16)) { out.write(sb.toString.getBytes(US_ASCII)); sb.clear() }
      }
      val stopBase = cards.toLong + size.components.toLong * size.stopsPer
      for (p <- 0 until size.pairs) {
        val card = size.components.toLong * size.cardsPer + p
        sb.append(card).append(',').append(stopBase + p).append('\n'); edges += 1
      }
      out.write(sb.toString.getBytes(US_ASCII))
    }
    GraphTruth(edges, size.components + size.pairs)
  }

  // ------------------------------------------------------------------- taxi

  /** A `grid` x `grid` street grid of two-way blocks (directed links),
    * `cabs` cabs each driving `tripsPerCab` planted trips of
    * `pointsPerTrip` GPS points. Consecutive trips are separated by one
    * of the reference's break rules, rotating: a >300 s recording gap,
    * a status flip, a >180 s stop, a >7500 ft jump. Short (<500 ft)
    * trips and stray single pings are planted between them and must be
    * filtered out. The points are split by cab into `chunks` files
    * `gps/chunk_K.tsv`, the way the reference reads GPS in chunks. */
  final case class TaxiSize(grid: Int, block: Double, cabs: Int,
      tripsPerCab: Int, pointsPerTrip: Int, chunks: Int)

  final case class TaxiTruth(points: Long, trips: Long, links: Int)

  def gridLinks(size: TaxiSize): Seq[graft.pipelines.MapMatch.Link] = {
    val g = size.grid; val b = size.block
    def node(i: Int, j: Int) = (i * b, j * b)
    val segs = for {
      i <- 0 until g; j <- 0 until g
      (di, dj) <- Seq((1, 0), (0, 1)) if i + di < g && j + dj < g
    } yield (node(i, j), node(i + di, j + dj))
    // ~25 mph free flow: ff seconds = feet / 36.7
    segs.zipWithIndex.flatMap { case (((ax, ay), (bx, by)), k) =>
      Seq(graft.pipelines.MapMatch.Link(2L * k + 1, ax, ay, bx, by, b / 36.7),
        graft.pipelines.MapMatch.Link(2L * k + 2, bx, by, ax, ay, b / 36.7))
    }
  }

  def taxi(dir: File, seed: Long, size: TaxiSize): TaxiTruth = {
    val r = rng(seed, 11)
    val g = size.grid; val b = size.block
    require(math.hypot(g - 1, g - 1) * b / 2 > 7600,
      "grid too small for a >7500 ft jump from every node")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.of(2015, 4, 6, 6, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    var points, trips = 0L
    (0 until size.chunks).foreach { chunk =>
      writeAscii(new File(dir, s"gps/chunk_$chunk.tsv")) { out =>
        val sb = new StringBuilder("pt\tcab_id\ttime\tx\ty\tstatus\n")
        for (cab <- 1 to size.cabs if (cab - 1) * size.chunks / size.cabs == chunk) {
          var t = t0 + r.nextInt(600)
          var i = r.nextInt(g); var j = r.nextInt(g)
          var status = "metered"
          var lastX, lastY = 0.0
          def ping(x: Double, y: Double): Unit = {
            val ts = java.time.LocalDateTime.ofEpochSecond(t, 0, java.time.ZoneOffset.UTC)
            sb.append(points).append('\t').append(cab).append('\t').append(fmt.format(ts))
              .append('\t').append(f"$x%.1f").append('\t').append(f"$y%.1f")
              .append('\t').append(status).append('\n')
            points += 1; lastX = x; lastY = y
          }
          for (trip <- 0 until size.tripsPerCab) {
            // drive a random walk over grid nodes, pinging every 30 s at
            // ~25 mph (1100 ft per ping) with +-15 ft GPS noise
            var pos = 0.0
            var ni = i; var nj = j
            // next block from (i, j): any direction but back to (bi, bj)
            def turn(bi: Int, bj: Int): Unit = {
              val moves = Seq((1, 0), (-1, 0), (0, 1), (0, -1)).filter { case (di, dj) =>
                i + di >= 0 && i + di < g && j + dj >= 0 && j + dj < g &&
                  !(i + di == bi && j + dj == bj) }
              val (di, dj) = moves(r.nextInt(moves.size))
              ni = i + di; nj = j + dj
            }
            turn(-1, -1)
            for (_ <- 0 until size.pointsPerTrip) {
              while (pos >= b) {
                val (bi, bj) = (i, j)
                pos -= b; i = ni; j = nj
                turn(bi, bj)
              }
              ping(i * b + (ni - i) * pos + r.nextInt(31) - 15,
                j * b + (nj - j) * pos + r.nextInt(31) - 15)
              t += 30
              pos += 1100
            }
            i = ni; j = nj
            trips += 1
            if (trip < size.tripsPerCab - 1) trip % 4 match {
              case 0 =>
                // recording gap; a short hop (200 ft, not a trip); a stray
                // ping far outside the network; another gap
                t += 400
                val (hx, hy) = (lastX, lastY)
                ping(hx, hy); t += 30; ping(hx + 100, hy); t += 30; ping(hx + 200, hy)
                t += 400
                ping(-50000.0, -50000.0)
                t += 400
              case 1 =>
                // status flip: the next ping already carries the new status
                status = if (status == "metered") "empty" else "metered"
              case 2 =>
                // a 600 s stop at the block corner
                for (_ <- 0 until 20) { ping(i * b, j * b); t += 30 }
              case _ =>
                // a jump past 7500 ft to the farthest corner
                i = if (i * 2 < g) g - 1 else 0
                j = if (j * 2 < g) g - 1 else 0
            }
          }
        }
        out.write(sb.toString.getBytes(US_ASCII))
      }
    }
    TaxiTruth(points, trips, gridLinks(size).size)
  }
}
