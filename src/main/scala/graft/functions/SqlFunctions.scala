package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, IntegerType, LongType}

/** SQL registrations for the native kernel expressions, so the pure-SQL
  * surface (`spark.sql`, JDBC/Thrift users, `CREATE TABLE … USING mdio`
  * sessions) can run the same sketch/vector pipelines as the Scala API:
  *
  * {{{
  * SELECT doc_id, minhash_sig(shingle_hashes(tokens(lower(text)), 3), 32) …
  * SELECT stats_hist(l_quantity, 10, 0.0, 50.0) FROM lineitem
  * }}}
  *
  * Shape parameters (n, k, bits, bins…) must be integer/double literals —
  * they fix kernel constants (hash permutations, buffer sizes) at
  * resolution time.
  */
object SqlFunctions {

  private def intArg(e: Expression, fn: String, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got $other")
  }

  private def doubleArg(e: Expression, fn: String, name: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Float, FloatType) => v.toDouble
    case Literal(v: Int, IntegerType) => v.toDouble
    case Literal(v: Long, LongType) => v.toDouble
    case Literal(v: org.apache.spark.sql.types.Decimal, _: DecimalType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a numeric literal, got $other")
  }

  type Registration =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def reg(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression): Registration =
    (new FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** Every graft kernel as a SQL function (plus `ibm_float32`, registered
    * separately by [[IbmFloatDecode.functionDescription]]). */
  val all: Seq[Registration] = Seq(
    reg("md5h60_array", classOf[Md5H60Array]) { args =>
      require(args.length == 1, "md5h60_array(arr)")
      Md5H60Array(args.head)
    },
    reg("shingle_hashes", classOf[ShingleHashExpr]) { args =>
      require(args.length == 2, "shingle_hashes(tokens, n)")
      ShingleHashExpr(args.head, intArg(args(1), "shingle_hashes", "n"))
    },
    reg("minhash_sig", classOf[MinhashSigExpr]) { args =>
      require(args.length == 2, "minhash_sig(hashes, k)")
      MinhashSigExpr(args.head, intArg(args(1), "minhash_sig", "k"))
    },
    reg("simhash60", classOf[SimhashExpr]) { args =>
      require(args.length == 1 || args.length == 2, "simhash60(hashes[, bits])")
      SimhashExpr(args.head,
        if (args.length == 2) intArg(args(1), "simhash60", "bits") else 60)
    },
    reg("sig_agree", classOf[SigAgreeExpr]) { args =>
      require(args.length == 2, "sig_agree(sig_a, sig_b)")
      SigAgreeExpr(args.head, args(1))
    },
    reg("winnow_fps", classOf[WinnowExpr]) { args =>
      require(args.length == 3, "winnow_fps(text, k_chars, window)")
      WinnowExpr(args.head, intArg(args(1), "winnow_fps", "k_chars"),
        intArg(args(2), "winnow_fps", "window"))
    },
    reg("vec_l2sq", classOf[L2SqExpr]) { args =>
      require(args.length == 2, "vec_l2sq(a, b)")
      L2SqExpr(args.head, args(1))
    },
    reg("cosine_sim", classOf[CosineSimExpr]) { args =>
      require(args.length == 2, "cosine_sim(a, b)")
      CosineSimExpr(args.head, args(1))
    },
    reg("vec_dot", classOf[DotExpr]) { args =>
      require(args.length == 2, "vec_dot(a, b)")
      DotExpr(args.head, args(1))
    },
    reg("unit_vec", classOf[UnitVecExpr]) { args =>
      require(args.length == 1, "unit_vec(v)")
      UnitVecExpr(args.head)
    },
    reg("stats_hist", classOf[StatsHistAgg]) { args =>
      require(args.length == 4, "stats_hist(x, nBins, lo, hi)")
      StatsHistAgg(args.head, intArg(args(1), "stats_hist", "nBins"),
        doubleArg(args(2), "stats_hist", "lo"),
        doubleArg(args(3), "stats_hist", "hi"))
    },
    // per-trace seismic conditioning (round 13): the native kernels in
    // [[TraceExprs]], so SQL users condition stored amplitude arrays the
    // same way the Scala TraceOps API does
    reg("trace_agc", classOf[AgcExpr]) { args =>
      require(args.length == 2, "trace_agc(samples, window)")
      AgcExpr(args.head, intArg(args(1), "trace_agc", "window"))
    },
    reg("trace_mute_top", classOf[MuteTopExpr]) { args =>
      require(args.length == 2, "trace_mute_top(samples, firstLive)")
      MuteTopExpr(args.head, intArg(args(1), "trace_mute_top", "firstLive"))
    },
    reg("trace_shift_resample", classOf[ShiftResampleExpr]) { args =>
      require(args.length == 2, "trace_shift_resample(samples, shift)")
      ShiftResampleExpr(args.head, args(1))
    },
    reg("trace_stack", classOf[StackAgg]) { args =>
      require(args.length == 1, "trace_stack(samples)")
      StackAgg(args.head)
    },
    reg("trace_fir", classOf[FirFilterExpr]) { args =>
      require(args.length == 3, "trace_fir(samples, array(taps...), center)")
      val taps = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.CreateArray(cs, _) =>
          cs.map(c => doubleArg(c, "trace_fir", "tap")).toIndexedSeq
        case other => throw new IllegalArgumentException(
          s"trace_fir: taps must be an array(...) of numeric literals, got $other")
      }
      FirFilterExpr(args.head, taps, intArg(args(2), "trace_fir", "center"))
    },
    // transform-coded lossy storage (round 14): pack/unpack the
    // quantization-index payload from SQL, same codec as
    // AccessPatterns.packQuantized
    reg("quant_pack", classOf[QuantPackExpr]) { args =>
      require(args.length == 2, "quant_pack(samples, tolerance)")
      QuantPackExpr(args.head, doubleArg(args(1), "quant_pack", "tolerance"))
    },
    reg("quant_unpack", classOf[QuantUnpackExpr]) { args =>
      require(args.length == 2, "quant_unpack(payload, tolerance)")
      QuantUnpackExpr(args.head, doubleArg(args(1), "quant_unpack", "tolerance"))
    },
    reg("long_mod_to_double", classOf[LongModToDoubleExpr]) { args =>
      require(args.length == 2, "long_mod_to_double(arr, m)")
      LongModToDoubleExpr(args.head,
        intArg(args(1), "long_mod_to_double", "m").toLong)
    },
    // velocity analysis (round 14): the fused moveout aggregates from
    // pure SQL — candidates are an array(...) of numeric literals (they
    // fix the per-candidate buffer layout at resolution time)
    reg("trace_moveout_stack", classOf[MoveoutStackAgg]) { args =>
      require(args.length == 3,
        "trace_moveout_stack(samples, offset, array(cands...))")
      MoveoutStackAgg(args.head, args(1),
        candsArg(args(2), "trace_moveout_stack"))
    },
    reg("trace_moveout_semblance", classOf[MoveoutStackAgg]) { args =>
      require(args.length == 3,
        "trace_moveout_semblance(samples, offset, array(cands...))")
      MoveoutStackAgg(args.head, args(1),
        candsArg(args(2), "trace_moveout_semblance"), semblance = true)
    },
    reg("trace_semblance_panel", classOf[MoveoutPanelAgg]) { args =>
      require(args.length == 4,
        "trace_semblance_panel(samples, offset, array(cands...), window)")
      MoveoutPanelAgg(args.head, args(1),
        candsArg(args(2), "trace_semblance_panel"),
        intArg(args(3), "trace_semblance_panel", "window"))
    },
  )

  private def candsArg(e: Expression, fn: String): IndexedSeq[Double] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.CreateArray(cs, _) =>
        cs.map(c => doubleArg(c, fn, "candidate")).toIndexedSeq
      case other => throw new IllegalArgumentException(
        s"$fn: candidates must be an array(...) of numeric literals, got $other")
    }
}
