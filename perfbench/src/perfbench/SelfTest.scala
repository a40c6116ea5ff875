package perfbench

/** The output checks must catch one corrupted byte, row or cell.
  * Run by perfbench/tests/test_bench.py; exits non-zero on a miss. */
object SelfTest {
  private var misses = List.empty[String]
  private def expect(what: String, cond: Boolean): Unit =
    if (!cond) misses ::= what

  def main(args: Array[String]): Unit = {
    live()
    recording()
    if (misses.nonEmpty) {
      misses.reverse.foreach(m => System.err.println(s"MISS $m"))
      System.exit(1)
    }
    println("selftest ok")
  }

  private def live(): Unit = {
    val (bytes, batch, nb) = (64, 4, 5)
    val expected = Checks.expectedEphysCrc(7L, bytes, nb, batch)
    def deliver(mutate: Vector[Array[Byte]] => Vector[Array[Byte]]): Int = {
      val src = new Checks.EphysSource(7L, bytes)
      val samples = mutate(Vector.fill(nb * batch)(src.sample()))
      val log = new Checks.ReaderLog(nb, batch)
      samples.foreach(log.accept)
      Checks.liveFailures(expected, Seq(log))
    }
    expect("live: intact stream passes", deliver(identity) == 0)
    expect("live: one flipped payload byte", deliver { s =>
      val c = s(9).clone(); c(40) = (c(40) ^ 1).toByte; s.updated(9, c) } == 1)
    expect("live: one dropped sample", deliver(s => s.patch(9, Nil, 1)) > 0)
    expect("live: one duplicated sample", deliver(s => s.patch(9, Seq(s(9)), 0)) > 0)
    expect("live: two samples swapped", deliver(s =>
      s.updated(9, s(10)).updated(10, s(9))) > 0)
    expect("live: stream cut short", deliver(_.dropRight(1)) == 1)
  }

  private def recording(): Unit = {
    val rows = (0L until 6L).map(i =>
      (i, Seq[Any](i * 1.5, i * 7L, Array.fill((i + 1).toInt)(i.toByte))))
    val cols = Seq("v", "tag", "blob")
    val digests = cols.indices.map { c =>
      val d = new Checks.ColDigest
      rows.foreach(r => d.add(r._2(c)))
      cols(c) -> d.value
    }.toMap
    val rec = Checks.Recording("r", rows.size, cols, digests)
    val file = Array.tabulate[Byte](32)(_.toByte)
    val done = """{"ingestion_status":"COMPLETED","stream_name":"r"}"""
    def problems(rs: Seq[(Long, Seq[Any])] = rows, side: String = done,
        http: Array[Byte] = file): Int =
      Checks.recordingProblems(rec, rs, side, http, file).size

    expect("record: intact recording passes", problems() == 0)
    expect("record: file order does not matter", problems(rs = rows.reverse) == 0)
    expect("record: one double cell", problems(rs =
      rows.updated(2, (2L, rows(2)._2.updated(0, 3.0000001)))) > 0)
    expect("record: one long cell", problems(rs =
      rows.updated(4, (4L, rows(4)._2.updated(1, 29L)))) > 0)
    expect("record: one blob byte", problems(rs = rows.updated(3,
      (3L, rows(3)._2.updated(2, Array[Byte](3, 3, 3, 4))))) > 0)
    expect("record: one dropped row", problems(rs = rows.patch(3, Nil, 1)) > 0)
    expect("record: one duplicated row", problems(rs = rows :+ rows(2)) > 0)
    expect("record: sample_index gap", problems(rs =
      rows.updated(5, (6L, rows(5)._2))) > 0)
    expect("record: sidecar not COMPLETED", problems(side =
      done.replace("COMPLETED", "IN_PROGRESS")) > 0)
    expect("record: one HTTP body byte", problems(http = {
      val c = file.clone(); c(17) = 0; c }) > 0)
  }
}
