package perfbench

/** Outcome of checking a stream's output against its inputs. Every count
  * is of input messages, except `unknown`: outputs whose id no input had. */
final case class StreamCheck(attempted: Int, missing: Int, duplicated: Int,
                             wrong: Int, unknown: Int, unacked: Int, failed: Int) {
  def describe: String =
    s"attempted=$attempted failed=$failed missing=$missing duplicated=$duplicated " +
      s"wrong=$wrong unknown=$unknown unacked=$unacked"
}

object Checks {

  /** Compare the output multiset with the transform applied to `inputs`
    * (in publish order, so input offset = index). A message fails if it is
    * missing, duplicated, has the wrong content, or sits at or above the
    * input subscription's acked offset `committed`. Outputs with an
    * unknown id add to `failed` as well, capped at `attempted`. */
  def stream(inputs: IndexedSeq[Msg], outputs: Iterable[Array[Byte]],
             committed: Long): StreamCheck = {
    val byId = new java.util.HashMap[Long, Msg](inputs.size * 2)
    inputs.foreach(m => byId.put(m.id, m))
    val seen = new java.util.HashMap[Long, Integer](inputs.size * 2)
    val bad = new java.util.HashSet[Long]()
    var wrong, unknown = 0
    outputs.foreach { b =>
      val id = Payload.idOf(b)
      val m = byId.get(id)
      if (m == null) unknown += 1
      else {
        seen.merge(id, 1, (a: Integer, c: Integer) => a + c)
        if (!java.util.Arrays.equals(b, m.expected)) { wrong += 1; bad.add(id) }
      }
    }
    var missing, duplicated = 0
    inputs.foreach { m =>
      val n = seen.getOrDefault(m.id, 0)
      if (n == 0) { missing += 1; bad.add(m.id) }
      else if (n > 1) { duplicated += 1; bad.add(m.id) }
    }
    val firstUnacked = math.max(0L, math.min(committed, inputs.size.toLong)).toInt
    (firstUnacked until inputs.size).foreach(i => bad.add(inputs(i).id))
    StreamCheck(inputs.size, missing, duplicated, wrong, unknown,
      inputs.size - firstUnacked, math.min(inputs.size, bad.size + unknown))
  }

  /** Order-independent fingerprint of a forced query result, as computed
    * by [[Ops]]: row count, bit_xor of the row hashes, and the sum of
    * their top 24 bits (so a row counted twice does not cancel out). */
  def fingerprint(rows: Long, xor: Long, topSum: Long): String =
    f"$rows%d:$xor%016x:$topSum%d"

  /** A query passes only if a recorded fingerprint exists and matches. */
  def hashOk(expected: Option[String], got: String): Boolean = expected.contains(got)
}
