package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import graft.sources.{FileLog, FileLogInputPartition, FileLogPartitionReader}

/** Seeded load generator: a process of its own, separate from the Spark
  * JVM. It writes to the FileLog only through `FileLog.produce`.
  *
  * Modes:
  *  - `telemetry-backlog`: `--records` reference-shaped telemetry records
  *    on `telemetry.raw`, half a second of fleet traffic per produce call,
  *    written before the stream starts (the drain workload's backlog).
  *  - `telemetry-paced`: an open loop of `--devices` devices at 1 msg/s
  *    each, phases spread evenly, for `--warmup` + `--seconds` seconds.
  *    Each 10 ms tick is one `FileLog.produce` call, sent on a fixed
  *    schedule that never waits for the system. A tail-consumer thread
  *    follows `violations.events` and times every violation event from
  *    its record's due time to the moment it is visible on the topic.
  *  - `status-backlog`: `--records` device-status events in the demux's
  *    status JSON shape, in event-time order, on `device-status.events`.
  *
  * Every mode writes a ledger of what it produced (`--out`, JSON, plus
  * one byte per record in [[LedgerLog]]), which the Spark side checks its
  * outputs against.
  */
object Gen {
  val Partitions = 4
  val TickMs = 10L
  /** Event-time origin of every generated record (epoch seconds). */
  val BaseTs = 1700000000L

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val root = a("root")
    val seed = a("seed").toLong
    val ledger: Map[String, Any] = a("mode") match {
      case "telemetry-backlog" =>
        telemetryBacklog(root, seed, a("records").toInt, a("devices").toInt)
      case "telemetry-paced" =>
        telemetryPaced(root, seed, a("devices").toInt,
          a("warmup").toDouble, a("seconds").toDouble)
      case "status-backlog" =>
        statusBacklog(root, seed, a("records").toInt, a("devices").toInt)
      case m => sys.error(s"unknown mode $m")
    }
    Json.write(new File(a("out")), ledger)
  }

  // ------------------------------------------------------------ telemetry

  /** Append `x` with four decimals, as the reference generator prints them. */
  def fix4(sb: java.lang.StringBuilder, x: Double): java.lang.StringBuilder = {
    val v = math.round(math.abs(x) * 10000)
    if (x < 0 && v != 0) sb.append('-')
    sb.append(v / 10000).append('.')
    val frac = v % 10000
    if (frac < 1000) sb.append('0')
    if (frac < 100) sb.append('0')
    if (frac < 10) sb.append('0')
    sb.append(frac)
  }

  /** The ingest gate replays the records of one log partition, chosen
    * by the seed, and counts the rest. A device's events land in the
    * same partition number of every topic, since all route by its key. */
  def sampledPartition(seed: Long): Int = Math.floorMod(seed, Partitions.toLong).toInt
  def sampled(key: Array[Byte], seed: Long): Boolean =
    FileLog.route(key, Partitions) == sampledPartition(seed)

  /** What one telemetry record will derive to, by the reference's rules. */
  final case class Expect(violations: Int, status: Int, corrupt: Int,
                          sampled: Boolean) {
    /** One byte per record in the ledger side file: bits 0–1 violation
      * events, 2 status event, 3 corrupt, 4 key in the replayed sample. */
    def code: Byte =
      (violations | status << 2 | corrupt << 3 | (if (sampled) 16 else 0)).toByte
  }

  /** Reference-shaped telemetry (`mqtt_publish.js`): violation with
    * p = 0.65, battery power with p = 0.15; vehicle/account ids from
    * 3-element pools with p = 0.6/0.7, else random 24-hex. Hostile share:
    * ~2% double-encoded, ~1% malformed (truncated), ~1% a
    * non-allow-listed violation type or a null device. */
  final class TelemetryGen(seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val vehicles = Array.fill(3)(hex24())
    private val accounts = Array.fill(3)(hex24())

    private def hex24(): String = {
      val cs = new Array[Char](24)
      var i = 0
      while (i < 24) { cs(i) = "0123456789abcdef".charAt(rnd.nextInt(16)); i += 1 }
      new String(cs)
    }

    /** (key, value, expectation) of one record due at `dueMs`. */
    def record(device: Int, dueMs: Long): (Array[Byte], Array[Byte], Expect) = {
      val dev = s"device-$device"
      val ts = dueMs / 1000
      val hostile = rnd.nextDouble()
      val malformed = hostile < 0.010
      val nullDevice = hostile >= 0.010 && hostile < 0.015
      val badType = hostile >= 0.015 && hostile < 0.020
      val doubleEncoded = hostile >= 0.020 && hostile < 0.040
      val violation = rnd.nextDouble() < 0.65
      val battery = rnd.nextDouble() < 0.15
      val nViol = if (!violation) 0 else if (rnd.nextDouble() < 0.2) 2 else 1
      val speed = rnd.nextDouble() * 90

      val sb = new java.lang.StringBuilder(720)
      def str(k: String, v: String) = sb.append(",\"").append(k).append("\":\"").append(v).append('"')
      def num(k: String, v: Long) = sb.append(",\"").append(k).append("\":").append(v)
      def dbl(k: String, v: Double) = fix4(sb.append(",\"").append(k).append("\":"), v)
      def uni(k: String, lo: Double, hi: Double) = dbl(k, lo + rnd.nextDouble() * (hi - lo))
      sb.append("{\"device_uuid\":").append(if (nullDevice) "null" else "\"" + dev + "\"")
      num("mqtt_sent_at_ms", dueMs)
      num("timestamp", ts)
      str("fix_quality", "3D")
      uni("temp_C", 20, 45)
      uni("accel_x", -1, 1); uni("accel_y", -1, 1); uni("accel_z", 9.6, 10)
      uni("gyro_x", -5, 5); uni("gyro_y", -5, 5); uni("gyro_z", -5, 5)
      num("cpu_temp", 40 + rnd.nextInt(30)); num("soc_temp", 40 + rnd.nextInt(30))
      uni("main_board_temp", 30, 60)
      str("sim_iccid", (8991000000000000000L + device).toString)
      str("sim_imsi", (404101000000000L + device).toString)
      num("signal_strength_percent", rnd.nextInt(101))
      sb.append(",\"imu_is_stopped\":").append(speed < 1)
      str("dashcam_power_source", if (battery) "battery" else "external")
      num("battery_capacity", rnd.nextInt(101))
      str("lat_dir", "N"); str("lon_dir", "E"); num("location_changed", 1)
      dbl("speed_kph", speed); dbl("speed_mph", speed * 0.621371)
      sb.append(",\"ontrip\":").append(speed >= 1)
      sb.append(",\"location\":{\"type\":\"Point\",\"coordinates\":[")
      fix4(sb, 72.0 + rnd.nextDouble() * 1.5).append(',')
      fix4(sb, 21.0 + rnd.nextDouble() * 2.5).append("]}")
      str("vehicle_id", if (rnd.nextDouble() < 0.6) vehicles(rnd.nextInt(3)) else hex24())
      str("account_id", if (rnd.nextDouble() < 0.7) accounts(rnd.nextInt(3)) else hex24())
      sb.append(",\"violations\":[")
      (0 until nViol).foreach { i =>
        if (i > 0) sb.append(',')
        val brake = rnd.nextBoolean()
        val tpe = if (badType) (if (brake) "harsh-braking" else "harsh-acceleration")
                  else if (brake) "harsh_brake" else "harsh_accel"
        sb.append("{\"timestamp\":").append(ts + i)
        str("type", tpe)
        if (brake) uni("accel_y", -4.5, -2.8) else uni("accel_y", 2.8, 4.5)
        dbl("speed_kph", speed)
        uni("delta_speed", -15, 15)
        sb.append('}')
      }
      sb.append("]}")
      val json = sb.toString
      val value =
        if (malformed) json.substring(0, json.length / 2)
        else if (doubleEncoded)
          "\"" + json.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        else json
      val key = (if (nullDevice) "unknown-device" else dev).getBytes(UTF_8)
      val inSample = sampled(key, seed)
      val expect =
        if (malformed) Expect(0, 0, 1, inSample)
        else Expect(
          violations = if (nullDevice || badType) 0 else nViol,
          status = if (!nullDevice && battery) 1 else 0,
          corrupt = 0, sampled = inSample)
      (key, value.getBytes(UTF_8), expect)
    }
  }

  final class Tally {
    var records, violations, status, corrupt = 0L
    def add(e: Expect): Unit = {
      records += 1; violations += e.violations; status += e.status
      corrupt += e.corrupt
    }
    def toMap: Map[String, Any] = Map("records" -> records,
      "violations" -> violations, "status" -> status, "corrupt" -> corrupt)
  }

  /** Due time of record `i` in an evenly phased fleet at 1 msg/s/device. */
  private def dueMs(t0Ms: Long, devices: Int, i: Long): Long =
    t0Ms + i * 1000L / devices

  def telemetryBacklog(root: String, seed: Long, records: Int,
                       devices: Int): Map[String, Any] = {
    val gen = new TelemetryGen(seed)
    val tally = new Tally
    val t0Ms = BaseTs * 1000
    val perCall = math.max(1, devices / 2) // half a second of fleet traffic
    val t = Timer.start()
    val log = new LedgerLog(root, "telemetry.raw")
    var i = 0
    while (i < records) {
      val n = math.min(perCall, records - i)
      log.produce((i until i + n).map { k =>
        val (key, v, e) = gen.record(k % devices, dueMs(t0Ms, devices, k))
        tally.add(e); (key, v, e.code)
      })
      i += n
    }
    log.close()
    tally.toMap ++ Map("produce_s" -> t.seconds)
  }

  /** Open-loop paced producer + tail consumer; returns the ledger plus
    * the latency samples of the measured part (records due after the
    * warm-up), in due-time order. */
  def telemetryPaced(root: String, seed: Long, devices: Int,
                     warmupS: Double, seconds: Double): Map[String, Any] = {
    val gen = new TelemetryGen(seed)
    val total = new Tally
    val window = new Tally
    val ticks = ((warmupS + seconds) * 1000 / TickMs).toLong
    val perTick = devices * TickMs / 1000 // records due per tick
    val clock = Timer.start()
    val t0Ms = clock.epochMs0 + 500 // first tick due shortly after start
    val windowFromMs = t0Ms + (warmupS * 1000).toLong
    val windowToMs = t0Ms + ((warmupS + seconds) * 1000).toLong
    val lateMs = new ArrayBuffer[Double]()
    val produceMs = new ArrayBuffer[Double]()

    val done = new AtomicBoolean(false)
    val tail = new TailConsumer(root, "violations.events", clock)
    val tailThread = new Thread(() => tail.run(done), "perfbench-tail")
    tailThread.setDaemon(true)
    tailThread.start()

    val log = new LedgerLog(root, "telemetry.raw")
    var k = 0L
    while (k < ticks) {
      val tickEnd = t0Ms + (k + 1) * TickMs
      // open loop: sleep to the schedule, never wait on the system
      val wait = tickEnd - clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val batch = (k * perTick until (k + 1) * perTick).map { i =>
        val due = dueMs(t0Ms, devices, i)
        val (key, v, e) = gen.record((i % devices).toInt, due)
        total.add(e)
        if (due >= windowFromMs && due < windowToMs) window.add(e)
        (key, v, e.code)
      }
      val p0 = clock.nowMs
      log.produce(batch)
      lateMs += p0 - tickEnd
      produceMs += clock.nowMs - p0
      k += 1
    }
    log.close()
    // wait until every expected violation is visible (bounded)
    val deadline = clock.nowMs + 60000
    while (tail.seenTotal < total.violations && clock.nowMs < deadline)
      Thread.sleep(5)
    done.set(true)
    tailThread.join(5000)

    total.toMap ++ Map(
      "window_violations" -> window.violations,
      "violations_seen" -> tail.seenTotal,
      "latency_ms" -> tail.latencies(windowFromMs, windowToMs),
      "late_ms" -> lateMs.toSeq,
      "produce_ms" -> produceMs.toSeq)
  }

  // --------------------------------------------------------------- status

  /** Status "touch" events for `devices` devices in event-time order:
    * sessions of 1–20 touches 5–60 s apart, separated by gaps of
    * 301–3600 s, so TTL closes fire while the stream runs. About every
    * tenth session ends with an explicit `clear`. Ledger side-file bits:
    * 1 = touch, 2 = first touch of a session, 4 = clear. */
  def statusBacklog(root: String, seed: Long, records: Int,
                    devices: Int): Map[String, Any] = {
    val rnd = new SplittableRandom(seed)
    // per device: next event time, touches left in the current session
    val nextTs = Array.tabulate(devices)(_ => BaseTs + rnd.nextInt(3600).toLong)
    val left = Array.fill(devices)(1 + rnd.nextInt(20))
    val clearAfter = Array.fill(devices)(rnd.nextInt(10) == 0)
    val fresh = Array.fill(devices)(true)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Int)](
      Ordering.by[(Long, Int), (Long, Int)](x => (-x._1, -x._2)))
    (0 until devices).foreach(d => heap.enqueue((nextTs(d), d)))
    var touches, clears, sessions = 0L
    val t = Timer.start()
    val log = new LedgerLog(root, "device-status.events")
    val buf = new ArrayBuffer[(Array[Byte], Array[Byte], Byte)](4096)
    var i = 0
    while (i < records) {
      val (ts, d) = heap.dequeue()
      val dev = s"device-$d"
      val action =
        if (left(d) == 0) "clear"
        else { left(d) -= 1; "touch" }
      val code =
        if (action == "clear") { clears += 1; 4 }
        else {
          touches += 1
          if (fresh(d)) { fresh(d) = false; sessions += 1; 3 } else 1
        }
      buf += ((dev.getBytes(UTF_8), statusJson(dev, ts, action).getBytes(UTF_8),
        code.toByte))
      if (left(d) == 0 && !(action == "touch" && clearAfter(d))) {
        // session over: the next one starts after a gap longer than the TTL
        left(d) = 1 + rnd.nextInt(20)
        clearAfter(d) = rnd.nextInt(10) == 0
        fresh(d) = true
        nextTs(d) = ts + 301 + rnd.nextInt(3300)
      } else nextTs(d) = ts + 5 + rnd.nextInt(56)
      heap.enqueue((nextTs(d), d))
      i += 1
      if (buf.length == 4096 || i == records) {
        log.produce(buf.toSeq)
        buf.clear()
      }
    }
    log.close()
    Map("records" -> records.toLong, "touches" -> touches,
      "clears" -> clears, "sessions" -> sessions, "produce_s" -> t.seconds)
  }

  def statusJson(dev: String, ts: Long, action: String): String =
    s"""{"event_type":"device_status","status_type":"cable-unplugged",""" +
      s""""action":"$action","device_uuid":"$dev","timestamp":$ts,""" +
      s""""vehicle_id":"veh-$dev","account_id":"acct-1",""" +
      s""""location":{"type":"Point","coordinates":[72.5,22.0]}}"""
}

/** Produces through `FileLog.produce` and keeps, per topic partition,
  * one ledger byte per record in offset order (`_ledger/<topic>.p<n>`),
  * so a consumer that stopped part-way can sum what its consumed prefix
  * should derive to. */
final class LedgerLog(root: String, topic: String) {
  private val dir = new File(root, "_ledger")
  dir.mkdirs()
  private val outs = Array.tabulate(Gen.Partitions)(p =>
    new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(new File(dir, s"$topic.p$p"))))

  def produce(records: Seq[(Array[Byte], Array[Byte], Byte)]): Unit = {
    FileLog.produce(root, topic, records.map(r => (r._1, r._2)), Gen.Partitions)
    records.foreach(r => outs(FileLog.route(r._1, Gen.Partitions)).write(r._3))
  }

  def close(): Unit = outs.foreach(_.close())
}

object LedgerLog {
  /** How often each ledger byte value occurs over offsets [0, end(p)). */
  def histogram(root: String, topic: String, end: Map[Int, Long]): Array[Long] = {
    val hist = new Array[Long](256)
    end.foreach { case (p, n) =>
      val bytes = java.nio.file.Files.readAllBytes(
        new File(new File(root, "_ledger"), s"$topic.p$p").toPath)
      require(bytes.length >= n, s"ledger of $topic p$p has ${bytes.length} < $n")
      (0 until n.toInt).foreach(i => hist(bytes(i) & 0xff) += 1)
    }
    hist
  }
}

/** Follows a FileLog topic the way the reference's `kafkaConsumer.js`
  * follows Kafka: polls every partition for newly committed segments
  * and reads them with the program's own partition reader. Each
  * violation event's latency is (time first visible − due time), the due
  * time being the record's `mqtt_sent_at_ms`. */
final class TailConsumer(root: String, topic: String, clock: Timer) {
  private val sent = "\"mqtt_sent_at_ms\":"
  private val samples = new ArrayBuffer[(Long, Double)]() // (due, latency)
  @volatile var seenTotal = 0L

  def run(done: AtomicBoolean): Unit = {
    val next = Array.fill(Gen.Partitions)(0L)
    while (!done.get()) {
      var any = false
      (0 until Gen.Partitions).foreach { p =>
        val end = FileLog.endOffset(FileLog.partDir(root, topic, p))
        if (end > next(p)) {
          val seen = clock.nowMs
          val r = new FileLogPartitionReader(
            FileLogInputPartition(root, topic, p, next(p), end))
          try while (r.next()) {
            val v = new String(r.get().getBinary(1), UTF_8)
            val i = v.indexOf(sent) + sent.length
            var j = i
            while (j < v.length && Character.isDigit(v.charAt(j))) j += 1
            val due = v.substring(i, j).toLong
            samples.synchronized { samples += ((due, seen - due)) }
            seenTotal += 1
          } finally r.close()
          next(p) = end
          any = true
        }
      }
      if (!any) Thread.sleep(2)
    }
  }

  def latencies(fromMs: Long, toMs: Long): Seq[Double] = samples.synchronized {
    samples.filter { case (due, _) => due >= fromMs && due < toMs }
      .sortBy(_._1).map(_._2).toSeq
  }
}

/** Wall clock with sub-millisecond resolution in epoch milliseconds. */
final class Timer private (val epochMs0: Long, nano0: Long) {
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
  def seconds: Double = (System.nanoTime() - nano0) / 1e9
}
object Timer {
  def start(): Timer = new Timer(System.currentTimeMillis(), System.nanoTime())
}

/** `--key value` command-line arguments. */
final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
}
object Args {
  def apply(args: Array[String]): Args = Args(args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap)
}
