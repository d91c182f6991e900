package graft

import graft.serve.Email
import org.scalatest.funsuite.AnyFunSuite

/** Std.System.Email analog: RFC 5322/MIME envelope bytes for the text and
  * attachment forms, quoted-printable/base64 encoding contracts, and the
  * SMTP dialogue driven over a REAL socket against a loopback listener.
  */
class EmailSpec extends AnyFunSuite {

  private val cfg = Email.SmtpConfig("127.0.0.1", 25, "ops@example.com")

  test("plain-text message: exact RFC 5322 envelope, 7bit when ASCII") {
    val msg = Email.message("ops@example.com", "a@x.com,b@x.com", "",
      "nightly ok", highPriority = false, Email.textPart("all 124 green"))
    assert(msg ==
      "From: ops@example.com\r\n" +
      "To: a@x.com,b@x.com\r\n" +
      "Subject: nightly ok\r\n" +
      "MIME-Version: 1.0\r\n" +
      "Content-Type: text/plain; charset=ISO-8859-1\r\n" +
      "Content-Disposition: inline\r\n" +
      "\r\n" +
      "all 124 green")
    // cc header appears only when present; bcc never appears
    val withCc = Email.message("s@x.com", "a@x.com", "c@x.com", "s",
      highPriority = true, Email.textPart("hi"))
    assert(withCc.contains("Cc: c@x.com\r\n"))
    assert(withCc.contains("X-Priority: 1\r\nImportance: high\r\n"))
    assert(!withCc.toLowerCase.contains("bcc"))
    // header injection in any caller-supplied value is refused
    assertThrows[IllegalArgumentException] {
      Email.message("s@x.com", "a@x.com\r\nX-Evil: 1", "", "s",
        highPriority = false, Email.textPart("x"))
    }
  }

  test("quoted-printable: escapes, soft breaks, EOL blanks, boundary guard") {
    // pure printable ASCII needs no encoding
    assert(Email.quotedPrintable("plain text!") == ("plain text!", false))
    // 8-bit and '=' escape as =XX; newline flavors normalize to CRLF
    assert(Email.quotedPrintable("a=b\ncé") == ("a=3Db\r\nc=E9", true))
    // trailing blank escapes (RFC 2045 rule 3)
    assert(Email.quotedPrintable("end ") == ("end=20", true))
    // "--" at line start escapes its first dash (multipart boundary guard)
    assert(Email.quotedPrintable("--boundary") == ("=2D-boundary", true))
    // soft break keeps every line within 76 chars
    val (enc, needed) = Email.quotedPrintable("x" * 200)
    assert(needed && enc.split("=\r\n", -1).forall(_.length <= 76))
    assert(enc.replace("=\r\n", "") == "x" * 200)
  }

  test("attachment forms: multipart/mixed framing, base64 at 76 columns") {
    val att = Email.dataPart(Array.tabulate(100)(_.toByte),
      "application/octet-stream", "blob.bin")
    assert(att.headers ==
      "Content-Type: application/octet-stream\r\n" +
      "Content-Disposition: attachment; filename=\"blob.bin\"\r\n" +
      "Content-Transfer-Encoding: base64\r\n")
    assert(att.content.split("\r\n").forall(_.length <= 76))
    assert(java.util.Base64.getMimeDecoder.decode(att.content).toSeq ==
      Array.tabulate(100)(_.toByte).toSeq)
    val multi = Email.multipart(Email.textPart("see attached"),
      Email.textPart("line1", "text/csv", Some("r.csv")), "BNDRY")
    assert(multi.headers ==
      "Content-Type: multipart/mixed; boundary=\"BNDRY\"\r\n" +
      "Content-Disposition: inline\r\n")
    assert(multi.content ==
      "\r\n--BNDRY\r\n" +
      "Content-Type: text/plain; charset=ISO-8859-1\r\n" +
      "Content-Disposition: inline\r\n" +
      "\r\n" +
      "see attached" +
      "\r\n--BNDRY\r\n" +
      "Content-Type: text/csv\r\n" +
      "Content-Disposition: attachment; filename=\"r.csv\"\r\n" +
      "\r\n" +
      "line1" +
      "\r\n--BNDRY--\r\n")
  }

  test("sendEmailAttachData: base64 attachment part through the transport") {
    var sent = Seq.empty[(String, Int)]
    val ok = Email.sendEmailAttachData(cfg, "a@x.com", "blob", "see attached",
      Array[Byte](0, 1, 2, -1), "application/octet-stream", "b.bin",
      boundary = Some("BNDRY"), transport = (_, _, cmds) => sent = cmds)
    assert(ok)
    assert(sent.map(_._1).contains("RCPT TO:<a@x.com>\r\n"))
    // bytes 00 01 02 FF encode to base64 "AAEC/w=="
    val data = sent.map(_._1).find(_.contains("Subject: blob")).get
    assert(data.contains(
      "\r\n--BNDRY\r\n" +
      "Content-Type: application/octet-stream\r\n" +
      "Content-Disposition: attachment; filename=\"b.bin\"\r\n" +
      "Content-Transfer-Encoding: base64\r\n" +
      "\r\n" +
      "AAEC/w==" +
      "\r\n--BNDRY--\r\n"))
  }

  test("SMTP dialogue over a real loopback socket: envelope, stuffing, acks") {
    // a minimal SMTP listener: acks the dialogue, captures what it saw
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val worker = new Thread {
      override def run(): Unit = {
        val s = server.accept()
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          s.getInputStream, "ISO-8859-1"))
        val out = new java.io.PrintWriter(s.getOutputStream)
        def reply(r: String): Unit = { out.print(r + "\r\n"); out.flush() }
        reply("220 loopback ESMTP")
        var inData = false
        var line = in.readLine()
        while (line != null) {
          seen.add(line)
          if (inData) { if (line == ".") { inData = false; reply("250 ok") } }
          else if (line.startsWith("DATA")) { inData = true; reply("354 go") }
          else if (line.startsWith("QUIT")) { reply("221 bye"); line = null }
          else reply("250 ok")
          if (line != null) line = in.readLine()
        }
        s.close()
      }
    }
    worker.setDaemon(true)
    worker.start()
    val port = server.getLocalPort
    try {
      val ok = Email.sendEmailAttachText(
        cfg.copy(mailServer = "127.0.0.1", port = port),
        "a@x.com, b@x.com", "report", "body line\r\n.hidden dot",
        "k,v\r\n1,2", "text/csv", "r.csv", cc = "c@x.com", bcc = "d@x.com",
        boundary = Some("BNDRY"))
      assert(ok)
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(seen).asScala
      assert(lines.contains("MAIL FROM:<ops@example.com>"))
      // every recipient class gets an envelope RCPT — including bcc
      Seq("a@x.com", "b@x.com", "c@x.com", "d@x.com").foreach(r =>
        assert(lines.contains(s"RCPT TO:<$r>"), s"missing RCPT for $r"))
      // the DATA payload carried headers and the dot-stuffed body line
      assert(lines.contains("To: a@x.com, b@x.com"))
      assert(lines.contains("Cc: c@x.com"))
      assert(!lines.exists(_.startsWith("Bcc")))
      assert(lines.contains("..hidden dot")) // RFC 5321 §4.5.2 stuffing
      assert(lines.contains("--BNDRY"))
      assert(lines.contains("QUIT"))
      // a refused dialogue: rptErrAsFail=false downgrades to false
      val down = Email.sendEmail(
        cfg.copy(mailServer = "127.0.0.1", port = server.getLocalPort),
        "a@x.com", "s", "b", rptErrAsFail = false)
      assert(!down) // listener already consumed its one connection
    } finally server.close()
  }
}
