package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, ServerSocket}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.engine.{Engine, MsgPack, ResultCodec, Transport}

/** The process boundary the reference actually runs on: intake and rpc
  * cross sockets (`/root/reference/src/processor.ts:62-63,109-110`),
  * every boundary is msgpack (`:66,112,119,123,130`), payloads are
  * zlib-sniffed (`:114-121`), and a reply under a foreign sequence
  * number is rejected (`:113,126`). These specs exercise
  * encode -> wire -> decode round-trips with a client on a second
  * thread, against a server owning the engine.
  */
class TransportSpec extends SparkSpec {

  // ------------------------------------------------------------- msgpack

  test("msgpack round-trips the envelope value space") {
    val v: Map[Any, Any] = Map(
      "sn" -> "abc123",
      "pkt" -> Map[Any, Any](
        "ctx" -> Map[Any, Any]("domain" -> "t", "ip" -> "127.0.0.1", "uid" -> "u1"),
        "fun" -> "q",
        "args" -> Vector("/dir", 42L, -7L, 3.5, true, null, Vector(1L, 2L))))
    assert(MsgPack.decode(MsgPack.encode(v)) == v)
  }

  test("msgpack integer widths and long strings survive") {
    val v = Vector(0L, 127L, 128L, -32L, -33L, 65535L, -65536L,
      Int.MaxValue.toLong + 1, Long.MinValue, "x" * 40, "y" * 70000)
    assert(MsgPack.decode(MsgPack.encode(v)) == v)
  }

  test("msgpack bin payloads round-trip byte-exact") {
    val bytes = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    val out = MsgPack.decode(MsgPack.encode(Map[Any, Any]("payload" -> bytes)))
      .asInstanceOf[Map[Any, Any]]("payload").asInstanceOf[Array[Byte]]
    assert(out.toSeq == bytes.toSeq)
  }

  private def hex(s: String): Array[Byte] =
    s.split(" ").map(Integer.parseInt(_, 16).toByte)

  private def decodeError(bytes: Array[Byte]): MsgPack.DecodeError =
    intercept[MsgPack.DecodeError](MsgPack.decode(bytes))

  test("msgpack: a str/bin length past the input fails before it allocates") {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = threads.getCurrentThreadAllocatedBytes
    decodeError(hex("c6 7f ff ff 00"))                 // bin32 of ~2 GB, 1 byte present
    assert(threads.getCurrentThreadAllocatedBytes - before < (1L << 20),
      "a 5-byte input must not allocate its declared length")
    decodeError(hex("db ff ff ff ff"))                 // str32 of 4 GB: not a negative size
    Seq("c4 05 00", "c5 01 00 00", "d9 03 61", "da 00 10 61").foreach(h => decodeError(hex(h)))
  }

  test("msgpack: an array/map count past the input fails with the typed error") {
    Seq("dc ff ff", "dd ff ff ff ff", "de 00 02 01 02 03", "df 7f ff ff ff", "93 01 02")
      .foreach(h => decodeError(hex(h)))
  }

  test("msgpack: trailing bytes after the value, truncation and unknown bytes are rejected") {
    val v = Map[Any, Any]("sn" -> "s", "pkt" -> Vector(1L, "x"))
    assert(decodeError(MsgPack.encode(v) :+ 0.toByte).getMessage.contains("trailing"))
    decodeError(MsgPack.encode(v).dropRight(1))
    decodeError(Array.empty[Byte])
    decodeError(hex("cb 00 00"))
    decodeError(hex("c1"))
  }

  /** `n` fixarrays, each holding the next; the innermost is empty. */
  private def nestedArrays(n: Int): Array[Byte] =
    Array.fill(n - 1)(0x91.toByte) :+ 0x90.toByte

  test("msgpack: nesting past MaxDepth is a typed error, not a stack overflow") {
    val deepest = (1 until MsgPack.MaxDepth).foldLeft(Vector.empty[Any])((v, _) => Vector(v))
    assert(MsgPack.decode(nestedArrays(MsgPack.MaxDepth)) == deepest)
    assert(decodeError(nestedArrays(MsgPack.MaxDepth + 1)).getMessage.contains("nesting"))
    decodeError(nestedArrays(200000))
    decodeError(Array.fill(200000)(0x81.toByte)) // fixmaps, each a key of the next
  }

  // -------------------------------------------- envelope payload (A6+A9)

  test("queryEnvelope: bytes -> inflate -> msgpack-decode equals collected rows") {
    val e = new Engine(spark)
    e.register("wide")((s, _, _) => {
      import s.implicits._
      (1 to 200).map(i => (i, s"name-$i", i * 1.5)).toDF("id", "name", "score")
    })
    val blob = e.queryEnvelope("wide").get
    assert(ResultCodec.isCompressed(blob), "payload at this size must carry 0x78 0x9c")
    val decoded = MsgPack.decode(ResultCodec.decode(blob)).asInstanceOf[Vector[Map[Any, Any]]]
    val rows = e.query("wide").get
    assert(decoded.size == rows.length)
    val expect = rows.map(r => Map[Any, Any](
      "id" -> r.getInt(0).toLong, "name" -> r.getString(1), "score" -> r.getDouble(2))).toVector
    assert(decoded.sortBy(_("id").asInstanceOf[Long]) == expect.sortBy(_("id").asInstanceOf[Long]))
  }

  test("queryEnvelope: small results stay uncompressed and decode directly") {
    val e = new Engine(spark)
    e.register("tiny")((s, _, _) => { import s.implicits._; Seq(("a", 1)).toDF("k", "n") })
    val blob = e.queryEnvelope("tiny").get
    assert(!ResultCodec.isCompressed(blob))
    assert(MsgPack.decode(blob) == Vector(Map[Any, Any]("k" -> "a", "n" -> 1L)))
  }

  // ------------------------------------------------------- rpc over wire

  test("rpc over the socket: second-thread client gets the zlib-sniffed payload back") {
    val e = new Engine(spark)
    e.register("rng")((s, _, args) => {
      import s.implicits._
      val n = args.head.toString.toInt
      (1 to n).map(i => (i, s"row-$i")).toDF("id", "label")
    })
    val server = new Transport.RpcServer(e)
    try {
      @volatile var result: scala.util.Try[Any] = null
      val client = new Thread(() => {
        result = Transport.rpc(server.port, "tenant-a", "user-9", "rng", Seq(300L))
      }, "rpc-client")
      client.start()
      client.join(60000)
      assert(result != null && result.isSuccess, s"rpc failed: $result")
      val rows = result.get.asInstanceOf[Vector[Map[Any, Any]]]
      assert(rows.size == 300)
      assert(rows.map(_("id").asInstanceOf[Long]).sorted == (1L to 300L).toVector)
      assert(rows.exists(_("label") == "row-42"))
    } finally server.close()
  }

  test("rpc: handler error comes back as an error payload, not a hang") {
    val e = new Engine(spark)
    val server = new Transport.RpcServer(e)
    try {
      val out = Transport.rpc(server.port, "d", "u", "no-such-fun")
      assert(out.isFailure)
      assert(out.failed.get.getMessage.contains("no-such-fun"))
    } finally server.close()
  }

  test("rpc: a frame that is not an envelope gets an error reply and the connection serves on") {
    val e = new Engine(spark)
    e.register("tiny")((s, _, _) => { import s.implicits._; Seq(("a", 1)).toDF("k", "n") })
    val server = new Transport.RpcServer(e)
    val sock = new java.net.Socket(InetAddress.getLoopbackAddress, server.port)
    try {
      sock.setSoTimeout(60000)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      def call(frame: Array[Byte]): Map[Any, Any] = {
        out.writeInt(frame.length); out.write(frame); out.flush()
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        MsgPack.decode(b).asInstanceOf[Map[Any, Any]]
      }
      def isBadRequest(reply: Map[Any, Any]) =
        reply("payload").toString.startsWith("error: bad request: ")
      // a msgpack array: no sn to recover
      val arr = call(MsgPack.encode(Vector("sn", "s0")))
      assert(arr("sn") == "" && isBadRequest(arr), arr)
      // undecodable bytes
      val junk = call(hex("db ff ff ff ff"))
      assert(junk("sn") == "" && isBadRequest(junk), junk)
      // a map whose pkt is not a map: answered under its sn
      val badPkt = call(MsgPack.encode(Map[Any, Any]("sn" -> "s1", "pkt" -> "tiny")))
      assert(badPkt("sn") == "s1" && isBadRequest(badPkt), badPkt)
      // nesting too deep to decode on the connection thread's stack
      val deep = call(nestedArrays(200000))
      assert(deep("sn") == "" && isBadRequest(deep), deep)
      // a valid request on the same socket is still served
      val pkt = Map[Any, Any]("ctx" -> Map[Any, Any]("domain" -> "d", "ip" -> "", "uid" -> "u"),
        "fun" -> "tiny", "args" -> Vector.empty[Any])
      val ok = call(MsgPack.encode(Map[Any, Any]("sn" -> "s2", "pkt" -> pkt)))
      assert(ok("sn") == "s2")
      assert(MsgPack.decode(ok("payload").asInstanceOf[Array[Byte]]) ==
        Vector(Map[Any, Any]("k" -> "a", "n" -> 1L)))
    } finally { sock.close(); server.close() }
  }

  test("rpc: a reply past MaxFrameBytes is a typed error and the connection serves on") {
    val e = new Engine(spark)
    // 68 rows of 1 MiB random bytes: deflate cannot bring the reply
    // under the 64 MiB frame limit
    e.register("huge")((s, _, _) => {
      import s.implicits._
      s.range(0, 68, 1, 4).map { i =>
        val b = new Array[Byte](1 << 20)
        new scala.util.Random(i).nextBytes(b)
        b
      }.toDF("b")
    })
    e.register("tiny")((s, _, _) => { import s.implicits._; Seq(("a", 1)).toDF("k", "n") })
    val server = new Transport.RpcServer(e)
    val sock = new java.net.Socket(InetAddress.getLoopbackAddress, server.port)
    try {
      sock.setSoTimeout(120000)
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      def call(sn: String, fun: String): Map[Any, Any] = {
        val pkt = Map[Any, Any]("ctx" -> Map[Any, Any]("domain" -> "d", "ip" -> "", "uid" -> "u"),
          "fun" -> fun, "args" -> Vector.empty[Any])
        val frame = MsgPack.encode(Map[Any, Any]("sn" -> sn, "pkt" -> pkt))
        out.writeInt(frame.length); out.write(frame); out.flush()
        val n = in.readInt()
        assert(n <= Transport.MaxFrameBytes, s"reply frame of $n bytes")
        val b = new Array[Byte](n); in.readFully(b)
        MsgPack.decode(b).asInstanceOf[Map[Any, Any]]
      }
      val big = call("s1", "huge")
      assert(big("sn") == "s1")
      val why = big("payload").toString
      assert(why.startsWith("error: result too large: ") &&
        why.endsWith(s" bytes > ${Transport.MaxFrameBytes}"), why)
      val ok = call("s2", "tiny")
      assert(ok("sn") == "s2")
      assert(MsgPack.decode(ok("payload").asInstanceOf[Array[Byte]]) ==
        Vector(Map[Any, Any]("k" -> "a", "n" -> 1L)))
    } finally { sock.close(); server.close() }
  }

  test("rpc rejects a reply under a foreign sequence number") {
    // rogue server: replies with a different sn (processor.ts:113,126)
    val server = new ServerSocket(0, 5, InetAddress.getLoopbackAddress)
    val t = new Thread(() => {
      val sock = server.accept()
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      val n = in.readInt(); val b = new Array[Byte](n); in.readFully(b)
      val reply = MsgPack.encode(Map[Any, Any](
        "sn" -> "not-your-sn", "payload" -> MsgPack.encode(Vector.empty[Any])))
      out.writeInt(reply.length); out.write(reply); out.flush()
      sock.close()
    }, "rogue-server")
    t.setDaemon(true); t.start()
    try {
      val out = Transport.rpc(server.getLocalPort, "d", "u", "anything")
      assert(out.isFailure)
      assert(out.failed.get.getMessage == "Invalid calling sequence number")
    } finally server.close()
  }

  // ------------------------------------------------------- intake socket

  test("intake socket drains pushed job packets; unknown cmd is an error result, not a crash") {
    val e = new Engine(spark)
    e.register("double")((s, _, args) => {
      import s.implicits._
      Seq(args.head.toString.toInt * 2).toDF("v")
    })
    val results = new LinkedBlockingQueue[(String, scala.util.Try[Array[org.apache.spark.sql.Row]])]()
    val server = new Transport.IntakeServer(e)((cmd, r) => results.put((cmd, r)))
    try {
      Transport.push(server.port, "double", Seq(21L))
      Transport.push(server.port, "missing-cmd")
      Transport.push(server.port, "double", Seq(5L))
      val got = (1 to 3).map(_ => results.poll(60, TimeUnit.SECONDS)).filter(_ != null)
      assert(got.size == 3, s"intake dropped packets: $got")
      val byCmd = got.groupBy(_._1)
      assert(byCmd("double").map(_._2.get.head.getInt(0)).toSet == Set(42, 10))
      assert(byCmd("missing-cmd").head._2.isFailure)
    } finally server.close()
  }

  test("intake: a packet that is not a map is an error result and the connection reads on") {
    val e = new Engine(spark)
    e.register("double")((s, _, args) => {
      import s.implicits._
      Seq(args.head.toString.toInt * 2).toDF("v")
    })
    val results = new LinkedBlockingQueue[(String, scala.util.Try[Array[org.apache.spark.sql.Row]])]()
    val server = new Transport.IntakeServer(e)((cmd, r) => results.put((cmd, r)))
    val sock = new java.net.Socket(InetAddress.getLoopbackAddress, server.port)
    try {
      val out = new DataOutputStream(sock.getOutputStream)
      Seq(MsgPack.encode(Vector("cmd", "double")), hex("db ff ff ff ff"),
          MsgPack.encode(Map[Any, Any]("cmd" -> "double", "args" -> Vector(4L))))
        .foreach { frame => out.writeInt(frame.length); out.write(frame) }
      out.flush()
      val got = (1 to 3).map(_ => results.poll(60, TimeUnit.SECONDS))
      assert(!got.contains(null), s"intake dropped packets: $got")
      assert(got.take(2).forall { case (cmd, r) => cmd == "" && r.isFailure }, got)
      assert(got(1)._2.failed.get.isInstanceOf[MsgPack.DecodeError])
      assert(got(2)._1 == "double" && got(2)._2.get.head.getInt(0) == 8)
    } finally { sock.close(); server.close() }
  }
}
