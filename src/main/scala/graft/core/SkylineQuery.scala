package graft.core

/**
 * Parser for the reference's query grammar
 * (`/root/reference/README.md:44-45`, `src/utils/functions.py:303-333`):
 *
 *   "SKYLINE OF <col> MIN, <col> MAX, ..., <col> MIN"
 *
 * Differences from the reference, by design:
 *  - dimension names are real column names (the reference hard-codes
 *    `x1..xd` and only reads the MIN/MAX tokens);
 *  - invalid input throws `IllegalArgumentException` instead of the
 *    reference's silent `exit()` (`batch_job.py:27`).
 *
 * Rejection rules kept from `handle_input` (functions.py:325-331):
 * empty dimension list; MR_ANGLE combined with any MAX dimension
 * (enforced at plan time in [[graft.operators.SkylineOps]]).
 */
object SkylineQuery {

  def parse(query: String): Seq[(String, Direction)] = {
    val t = query.trim
    // Word-boundary prefix match: "SKYLINE OFprice MIN" must not parse as
    // a query on 'price'. Whitespace between/after the keywords may vary.
    val prefix = "^(?i)skyline\\s+of\\s+".r
    val m = prefix.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(s"query must start with 'SKYLINE OF': $query"))
    val body = t.drop(m.end).trim
    require(body.nonEmpty, "empty dimension list")
    val dims = body.split(",").toSeq.map { part =>
      val toks = part.trim.split("\\s+")
      require(toks.length == 2, s"each dimension must be '<col> MIN|MAX', got: '${part.trim}'")
      (toks(0), Direction.of(toks(1)).getOrElse(throw new IllegalArgumentException(
        s"unknown direction '${toks(1).toLowerCase}' in '$part'")))
    }
    require(dims.nonEmpty, "empty dimension list")
    dims
  }
}
