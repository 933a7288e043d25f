package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.config.{ParserConf, RuleConf, SensorConf}

/** Traffic mix of one workload: shares of the generated lines and the
  * shape of the attacking address population. */
final case class Mix(
    attack: Double,    // lines that match a rule
    benign: Double,    // lines that parse but match no rule
    garbage: Double,   // lines the sensor's parser rejects
    badDatetime: Double, // rule-matching lines whose datetime cannot parse
    addrPool: Int,     // distinct attacking addresses
    zipfS: Double)     // Zipf exponent over that pool

/** Expected outcome of a stream of generated lines, kept exactly as the
  * lines are written so every output check compares against it. */
final class Ledger {
  val events = scala.collection.mutable.HashMap.empty[(String, String), Long]
  val badDatetime = scala.collection.mutable.HashMap.empty[(String, String), Long]
  val lines = scala.collection.mutable.HashMap.empty[String, Long]
  val parsed = scala.collection.mutable.HashMap.empty[String, Long]

  def totalEvents: Long = events.values.sum + badDatetime.values.sum
  def totalLines: Long = lines.values.sum
}

/** Seeded log-line generator following the ssh (A.1) and nginx (A.2)
  * fixture templates, with the rule-order traps, lines no rule matches,
  * lines the parser rejects and planted unparseable datetimes. Addresses
  * follow a Zipf law over a pool drawn from the synthetic geo ranges plus
  * one range no geo row covers. */
object Gen {

  val Node = "bench-node"

  val Ssh = SensorConf("ssh", "", enabled = true, periodSecs = 10,
    ParserConf("""^(.+)\s+.+\s+sshd\[\d+\]: (.+)\s+(.+)\s+port\s+\d+$""",
      "2006 Jan _2 15:04:05", Map("datetime" -> 1, "message" -> 2, "address" -> 3)),
    Seq(
      RuleConf("auth-failure", "message", "Authentication (failure|error|failed) for .+"),
      RuleConf("user-enumeration", "message", "(Illegal|Invalid) user .+")))

  val Http = SensorConf("http", "", enabled = true, periodSecs = 10,
    ParserConf("""^([^\s]+).+\[(.+)\]\s+"([^"]+)"\s+(\d+)\s+(\d+)\s+"([^"]+)"\s+"([^"]+)"$""",
      "02/Jan/2006:15:04:05 -0700",
      Map("address" -> 1, "datetime" -> 2, "request" -> 3, "response_code" -> 4,
        "response_size" -> 5, "user_agent" -> 7)),
    Seq(
      RuleConf("Axis SSI RCE", "request", """.+/incl/image_test\.shtml.*"""),
      RuleConf("CVE-2017-9841", "request", """.+Util/PHP/eval-stdin\.php"""),
      RuleConf("ThinkPHP RCE", "request", """.+invokefunction.+"""),
      RuleConf("WP-File-Manager RCE", "request",
        """.+wp-file-manager/lib/php/connector\.minimal\.php"""),
      RuleConf("XDebug", "request", """.+XDEBUG_SESSION_START=.+"""),
      RuleConf("php_files_scan", "request", """.+\.php.*"""),
      RuleConf("not_a_browser", "user_agent", "(python|curl|wget)")))

  val Sensors: Seq[SensorConf] = Seq(Ssh, Http)

  /** Geo ranges: 256 /16 blocks over 24 countries. 250.1.0.0/16 is the
    * uncovered gap: its addresses keep a null country. */
  private val Countries = Seq("US" -> "United States", "NL" -> "Netherlands",
    "CN" -> "China", "RU" -> "Russia", "DE" -> "Germany", "BR" -> "Brazil",
    "IN" -> "India", "FR" -> "France", "GB" -> "United Kingdom", "KR" -> "South Korea",
    "VN" -> "Vietnam", "ID" -> "Indonesia", "UA" -> "Ukraine", "IR" -> "Iran",
    "JP" -> "Japan", "SG" -> "Singapore", "TR" -> "Turkey", "PL" -> "Poland",
    "RO" -> "Romania", "CA" -> "Canada", "AR" -> "Argentina", "ZA" -> "South Africa",
    "MX" -> "Mexico", "TW" -> "Taiwan")
  private def block(i: Int): (Int, Int) = (20 + i / 64, (i % 64) * 4)
  val GeoBlocks = 256
  val GapBlock: (Int, Int) = (250, 1)

  def writeGeoCsv(path: File): Unit = {
    val sb = new StringBuilder("start_ip_num,end_ip_num,country_code,country_name\n")
    (0 until GeoBlocks).foreach { i =>
      val (a, b) = block(i)
      val start = (a.toLong << 24) | (b.toLong << 16)
      val (cc, name) = Countries(i % Countries.size)
      sb.append(s"$start,${start + 65535},$cc,$name\n")
    }
    java.nio.file.Files.write(path.toPath, sb.toString.getBytes(UTF_8))
  }

  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Oct", "Nov", "Dec")
  private val Agents = Array("Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64)", "Googlebot/2.1")

  /** One sensor's line stream. `sensor` is "ssh" or "http". */
  final class Lines(sensor: String, seed: Long, mix: Mix, ledger: Ledger) {
    private val rnd = new SplittableRandom(seed * 31 + sensor.hashCode)
    private var seq = 0L

    private val pool: Array[String] = {
      val r = new SplittableRandom(seed)
      Array.fill(mix.addrPool) {
        val (a, b) = if (r.nextInt(20) == 0) GapBlock else block(r.nextInt(GeoBlocks))
        s"$a.$b.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      }
    }
    // Zipf CDF over pool ranks.
    private val cdf: Array[Double] = {
      val w = Array.tabulate(pool.length)(k => 1.0 / math.pow(k + 1, mix.zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private def address(): String = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      pool(math.min(i, pool.length - 1))
    }
    private def noiseAddress(): String =
      s"${1 + rnd.nextInt(9)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${1 + rnd.nextInt(254)}"

    private def d2(n: Int): String = if (n < 10) "0" + n else n.toString
    private def time(): String =
      d2(rnd.nextInt(24)) + ":" + d2(rnd.nextInt(60)) + ":" + d2(rnd.nextInt(60))
    private def sshDate(bad: Boolean): String = {
      val mon = Months(rnd.nextInt(12))
      if (bad) s"$mon 3${rnd.nextInt(10)} 2${5 + rnd.nextInt(4)}:61:00"
      else {
        val day = 1 + rnd.nextInt(28)
        s"$mon ${if (day < 10) " " + day else day.toString} ${time()}"
      }
    }
    private def httpDate(bad: Boolean): String =
      if (bad) s"${10 + rnd.nextInt(18)}/Foo/2026:${d2(rnd.nextInt(24))}:00:00 +0000"
      else s"${d2(1 + rnd.nextInt(28))}/${Months(rnd.nextInt(12))}/2026:${time()} +0000"

    private def event(rule: String, bad: Boolean): Unit = {
      val m = if (bad) ledger.badDatetime else ledger.events
      m((sensor, rule)) = m.getOrElse((sensor, rule), 0L) + 1
    }

    /** Next line, without its newline; updates the ledger. */
    def next(): String = {
      seq += 1
      ledger.lines(sensor) = ledger.lines.getOrElse(sensor, 0L) + 1
      val u = rnd.nextDouble()
      val kind =
        if (u < mix.attack) 0 else if (u < mix.attack + mix.benign) 1 else 2
      if (kind != 2) ledger.parsed(sensor) = ledger.parsed.getOrElse(sensor, 0L) + 1
      val bad = kind == 0 && rnd.nextDouble() < mix.badDatetime / mix.attack
      if (sensor == "ssh") sshLine(kind, bad) else httpLine(kind, bad)
    }

    private def sshLine(kind: Int, bad: Boolean): String = {
      val pid = 1000 + seq
      val host = s"host${rnd.nextInt(4)}"
      kind match {
        case 0 =>
          val addr = address()
          val (msg, rule) = rnd.nextInt(5) match {
            case 0 => ("Authentication failure for root from", "auth-failure")
            case 1 => ("Authentication error for admin from", "auth-failure")
            // rule-order trap: both rules match, the first one wins
            case 2 => ("Authentication failed for Invalid user oracle from", "auth-failure")
            case 3 => ("Invalid user test from", "user-enumeration")
            case _ => ("Illegal user pi from", "user-enumeration")
          }
          event(rule, bad)
          s"${sshDate(bad)} $host sshd[$pid]: $msg $addr port ${1024 + rnd.nextInt(60000)}"
        case 1 =>
          val msg = rnd.nextInt(3) match {
            case 0 => "Accepted publickey for deploy from"
            case 1 => "Connection closed by authenticating user root"
            case _ => "Disconnected from invalid user guest"
          }
          s"${sshDate(false)} $host sshd[$pid]: $msg ${noiseAddress()} port ${1024 + rnd.nextInt(60000)}"
        case _ =>
          if (rnd.nextBoolean())
            s"${sshDate(false)} $host CRON[$pid]: pam_unix(cron:session): session opened for user root"
          else s"${sshDate(false)} $host sshd[$pid]: Server listening on 0.0.0.0 port 22."
      }
    }

    private def httpLine(kind: Int, bad: Boolean): String = {
      val size = seq // unique per line, so every payload is distinct
      kind match {
        case 0 =>
          val addr = address()
          val (req, ua, rule) = rnd.nextInt(10) match {
            case 0 => ("GET /incl/image_test.shtml?camnbr=%3c%21--%23exec%20cmd=%22id%22--%3e HTTP/1.1",
              Agents(0), "Axis SSI RCE")
            // rule-order trap: a .php path that must not land in php_files_scan
            case 1 => ("POST /vendor/phpunit/phpunit/src/Util/PHP/eval-stdin.php HTTP/1.1",
              Agents(0), "CVE-2017-9841")
            case 2 => ("GET /index.php?s=/Index/\\think\\app/invokefunction&function=call_user_func_array HTTP/1.1",
              Agents(1), "ThinkPHP RCE")
            case 3 => ("POST /wp-content/plugins/wp-file-manager/lib/php/connector.minimal.php HTTP/1.1",
              "python-requests/2.31", "WP-File-Manager RCE")
            case 4 => ("GET /index.php?XDEBUG_SESSION_START=phpstorm HTTP/1.1", "curl/7.88", "XDebug")
            case 5 | 6 => (s"GET /admin/config${rnd.nextInt(50)}.php HTTP/1.1", Agents(0), "php_files_scan")
            // request rules come first: a .php path fetched by curl is a scan
            case 7 => ("GET /wp-login.php HTTP/1.1", "curl/8.4.0", "php_files_scan")
            case _ => (s"GET /robots.txt?v=${rnd.nextInt(100)} HTTP/1.1",
              if (rnd.nextBoolean()) "python-requests/2.31" else "wget/1.21.3", "not_a_browser")
          }
          event(rule, bad)
          s"""$addr - - [${httpDate(bad)}] "$req" ${200 + rnd.nextInt(300)} $size "-" "$ua""""
        case 1 =>
          // "Wget" is capitalised: the case-sensitive not_a_browser rule misses it
          val ua = if (rnd.nextInt(4) == 0) "Wget/1.21" else Agents(rnd.nextInt(Agents.length))
          s"""${noiseAddress()} - - [${httpDate(false)}] "GET /static/app${rnd.nextInt(20)}.js HTTP/1.1" 200 $size "-" "$ua""""
        case _ =>
          s"""${noiseAddress()} - - [${httpDate(false)}] "\\x16\\x03\\x01" 400 0 "-""""
      }
    }

    /** Append `n` lines to `out`; returns bytes written. */
    def writeTo(out: java.io.OutputStream, n: Int): Long = {
      var bytes = 0L
      var i = 0
      while (i < n) {
        val b = (next() + "\n").getBytes(UTF_8)
        out.write(b); bytes += b.length; i += 1
      }
      bytes
    }
  }

  /** Write a backlog of `lines` lines split evenly over `<dir>/ssh.log`
    * and `<dir>/http.log`. */
  def writeBacklog(dir: File, seed: Long, mix: Mix, lines: Int): Ledger = {
    val ledger = new Ledger
    Seq("ssh", "http").foreach { s =>
      val out = new BufferedOutputStream(new FileOutputStream(new File(dir, s"$s.log")), 1 << 20)
      try new Lines(s, seed, mix, ledger).writeTo(out, lines / 2) finally out.close()
    }
    ledger
  }
}
