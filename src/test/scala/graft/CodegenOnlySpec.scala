package graft

import org.scalatest.funsuite.AnyFunSuite

/** Codegen-fallback net (the r06 finding): Spark *silently* drops a whole
  * projection to interpreted mode when Janino rejects the generated class
  * (e.g. two expressions emitting the same hard-coded local variable).
  * Results stay correct, so oracles can't catch it — only the executor
  * log shows `ERROR CodeGenerator: ... Redefinition of local variable`.
  *
  * Under `spark.sql.codegen.factoryMode=CODEGEN_ONLY` the fallback
  * becomes a hard failure, so running the registry under it turns any
  * future hard-coded-variable bug into a red test instead of a silent
  * 10× per-row slowdown at 100 TB.
  */
class CodegenOnlySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  private def codegenOnly[A](body: => A): A =
    withConf(FactoryMode -> "CODEGEN_ONLY")(body)

  test("stacked multimodal walker projection compiles (mm_bmp_pixels)") {
    // The regression shape from r06: six byte-walker expressions in ONE
    // projection (format + width + height + 3×channelSum + weightedSum).
    // With hard-coded `long r` locals this projection failed Janino and
    // ran interpreted for a full round without any test noticing.
    codegenOnly {
      val n = graft.operators.Multimodal.bmpPixels
        .run(spark, TestSpark.tiny).collect().length
      assert(n > 0)
    }
  }

  test("every registered query executes under CODEGEN_ONLY") {
    // Registry-wide: any expression whose doGenCode emits colliding or
    // invalid Java now throws at UnsafeProjection/Predicate creation
    // instead of silently interpreting. (CodegenFallback expressions —
    // e.g. higher-order-function lambdas — still pass: they codegen a
    // call into their interpreted eval, which is by-design, visible in
    // the plan, and not a *silent* fallback.)
    codegenOnly {
      val failures = scala.collection.mutable.ListBuffer.empty[String]
      val empties = scala.collection.mutable.ListBuffer.empty[String]
      for (q <- SparkEntry.registry) {
        try {
          if (q.run(spark, TestSpark.tiny).collect().isEmpty &&
              !EmptyOkAtTiny.contains(q.name))
            empties += q.name
        } catch {
          case e: Throwable =>
            failures += s"${q.name}: ${e.getClass.getSimpleName} ${e.getMessage.take(200)}"
        }
      }
      assert(failures.isEmpty,
        s"codegen-only execution failed for:\n  ${failures.mkString("\n  ")}")
      // empty-output net (same executed pass, no extra cost): a 0-row
      // result passes its DuckDB hash oracle TRIVIALLY (both engines
      // empty), so an operator can silently stop demonstrating any
      // behavior — the round-8 `dedup_containment_asym` first cut
      // returned 0 rows at every SF under an over-tight ρ filter and
      // only a manual look caught it. Queries for which emptiness at
      // sf0.001 is the CORRECT answer go on the allowlist with a
      // reason.
      assert(empties.isEmpty,
        s"queries with 0 rows at sf0.001 (trivially-green oracle):\n  " +
          empties.mkString("\n  "))
    }
  }

  test("interpreted eval of the graft.functions calls matches codegen " +
    "(NO_CODEGEN, wholeStage off)") {
    // Codegen is the path every query takes, so without this the
    // interpreted eval of the walkers and hashes runs only when the
    // optimizer folds a constant. Covered: every mm_* query, plus the
    // text_* and dedup_* queries whose plan calls a graft.functions
    // expression (PolyHash, Winnowing, SimHash60, shingles, verify
    // kernels).
    def callsFunctions(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.exists(_.expressions.exists(_.exists(
        _.getClass.getName.startsWith("graft.functions."))))
    def canonical(v: Any): Any = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: org.apache.spark.sql.Row => r.toSeq.map(canonical)
      case xs: scala.collection.Seq[_] => xs.map(canonical)
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => (canonical(k), canonical(x)) }
      case x => x
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => canonical(r).toString).sorted.toSeq
    val checked = scala.collection.mutable.ListBuffer.empty[String]
    val mismatches = scala.collection.mutable.ListBuffer.empty[String]
    for (q <- SparkEntry.registry
         if Seq("mm_", "text_", "dedup_").exists(q.name.startsWith)) {
      val df = q.run(spark, TestSpark.tiny)
      if (q.name.startsWith("mm_") || callsFunctions(df)) {
        val codegen = rows(df)
        val interpreted = withConf(FactoryMode -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") {
          rows(q.run(spark, TestSpark.tiny))
        }
        checked += q.name
        if (interpreted != codegen)
          mismatches += s"${q.name}: ${codegen.length} codegen rows vs " +
            s"${interpreted.length} interpreted, first difference " +
            s"${codegen.diff(interpreted).headOption} / " +
            s"${interpreted.diff(codegen).headOption}"
      }
    }
    assert(checked.count(_.startsWith("mm_")) >= 20, s"checked: $checked")
    assert(checked.exists(_.startsWith("text_")) &&
      checked.exists(_.startsWith("dedup_")), s"checked: $checked")
    assert(mismatches.isEmpty,
      s"interpreted rows differ from codegen for:\n  ${mismatches.mkString("\n  ")}")
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** queries whose correct sf0.001 output IS empty, with why */
  private val EmptyOkAtTiny: Set[String] = Set()
}
