package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.dfl.{ColumnCompiler, DflFrame, Parser}
import graft.io.DataStoreIO

/** Service/job/workflow execution with the reference's variable-precedence
  * and caching semantics.
  *
  * Precedence (last write wins, mirroring the reference exactly):
  *  - service exec: cached service vars ← service.defaults ← request vars
  *    (reference: handlers/ServiceExecHandler.go:100-130; returned vars
  *    persist back to the cache, :290)
  *  - job exec: service.defaults ← job.variables
  *    (reference: handlers/JobExecHandler.go:72-78)
  *  - workflow job: service.defaults ← job.variables ← workflow.variables
  *    (reference: handlers/WorkflowExecHandler.go:90-99)
  *
  * DataStore reads cache the loaded DataFrame keyed by resolved URI, read
  * options and source mtime — a stale file invalidates the entry, like the
  * mtime/LastModified cache key in the reference
  * (handlers/ServiceExecHandler.go:159-232, cache/Cache.go:25-75).
  */
final class Exec(spark: SparkSession, val catalog: Catalog) {

  // serviceName → (datastore mtime at bind time, persisted exec variables)
  // (reference cacheKeyService). The mtime guards dataset-valued vars: a
  // `$c := ($c ?: filter(...))` binding must not outlive the source file
  // it was planned over. Concurrent: the HTTP server execs services from
  // a thread pool.
  private val serviceVarCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Map[String, Any])]

  // (resolved uri, format, compression) → (mtimeMillis, persisted
  // DataFrame): a datastore redefined in place with other read options
  // misses by construction. Guarded by its own lock so two concurrent
  // requests don't double-read + double-persist
  private val dataFrameCache =
    scala.collection.mutable.Map.empty[(String, String, String), (Long, DataFrame)]
  private val dfCacheLock = new Object

  // bumped on every catalog mutation; serviceExec write-backs are fenced
  // on it so an exec in flight across a mutation cannot re-publish
  // dataset vars planned over the old definition after the clear
  private val varEpoch = new java.util.concurrent.atomic.AtomicLong(0)

  /** Drop what a catalog mutation of `kind` (add, update or delete) can
    * make stale. Cached service vars always go: a dataset-valued var may
    * have been planned over the entity that just changed. Cached
    * DataFrames go only when a datastore or workspace changed — their key
    * already misses on a redefined datastore, so this only releases the
    * entries of a deleted or re-uri'd one. Any other mutation (a service's
    * defaults, a layer) leaves the persisted tables cached. */
  def catalogChanged(kind: String): Unit = {
    varEpoch.incrementAndGet()
    serviceVarCache.clear()
    if (kind == "datastores" || kind == "workspaces") invalidateDataFrames()
  }

  /** Drop and unpersist every cached datastore DataFrame. */
  def invalidateDataFrames(): Unit = dfCacheLock.synchronized {
    dataFrameCache.values.foreach(_._2.unpersist())
    dataFrameCache.clear()
  }

  /** Evaluate a DFL URI template with variables bound (a table location is
    * a function of variables, reference: core/DataStore.go:79-84). */
  def resolveUri(uriDfl: String, vars: Map[String, Any]): String = {
    // a URI is a DFL expression only when it references variables —
    // plain paths (absolute OR relative; "data/places.jsonl" happens to
    // parse as DFL division) are themselves, modulo literal quoting
    if (!uriDfl.contains("$")) {
      val t = uriDfl.trim
      return if (t.length >= 2 &&
          ((t.head == '\'' && t.last == '\'') || (t.head == '"' && t.last == '"')))
        t.substring(1, t.length - 1)
      else uriDfl
    }
    val node = try Parser.parse(uriDfl) catch {
      case _: graft.dfl.DflParseException => return uriDfl
    }
    node match {
      case graft.dfl.Node.Lit(s: String) => s // plain path
      case _ =>
        val ctx = ColumnCompiler.Ctx(
          resolveAttr = n => throw new IllegalArgumentException(s"@$n not valid in uri"),
          whole = () => throw new IllegalArgumentException("@ not valid in uri"),
          vars = vars.filterNot(_._2.isInstanceOf[DataFrame]))
        spark.range(1).select(ColumnCompiler.compile(node, ctx).cast("string"))
          .head().getString(0)
    }
  }

  private def mtimeOf(uri: String): Long = {
    val f = new java.io.File(uri.stripPrefix("file:"))
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(_.lastModified()).foldLeft(0L)(math.max))
        .getOrElse(0L)
    else f.lastModified()
  }

  /** Cached datastore read (persist + mtime invalidation). */
  def readDataStore(ds: DataStore, vars: Map[String, Any]): DataFrame = {
    val uri = resolveUri(ds.uri, vars)
    val key = (uri, ds.format, ds.compression)
    val mtime = mtimeOf(uri)
    dfCacheLock.synchronized {
      dataFrameCache.get(key) match {
        case Some((t, df)) if t == mtime => df
        case stale =>
          stale.foreach(_._2.unpersist())
          val df = DataStoreIO.read(spark, uri, DataStoreIO.ReadOptions(
            format = ds.format, compression = ds.compression)).persist()
          dataFrameCache(key) = (mtime, df)
          df
      }
    }
  }

  private val tokenizerKinds = Set("bpe", "byte-bpe", "wordpiece", "unigram")

  /** Resolve `tokenizer:REF` (and kind-pinned `tokenizer:KIND:REF`)
    * string vars to the stored artifact's TABLE DataFrame — the
    * [[graft.llm.TokenizerStore]] layout — so services/jobs/HTTP exec
    * run the segment stages (`wordpieceSegment`/`unigramSegment`/
    * `bpeSegment`, or the kind-dispatching `tokSegment`) against a
    * stored model without shipping the vocab in the request. REF is a
    * catalog datastore name (its resolved uri) or a literal artifact
    * dir. The kind-pinned form fails LOUDLY when the artifact's
    * recorded kind differs — bind `tokenizer:wordpiece:…` and a
    * unigram artifact can never silently serve as a vocabulary.
    * Resolved fresh each exec and never written back to the var cache
    * (artifact dirs are re-saved in place; a persisted table would go
    * stale, the `datastore:` rule). */
  private def tokenizerRefVars(vars: Map[String, Any]): Map[String, Any] =
    vars.collect {
      case (k, v: String) if v.startsWith("tokenizer:") =>
        val rest = v.stripPrefix("tokenizer:")
        val (want, ref) = rest.split(":", 2) match {
          case Array(kind, r) if tokenizerKinds(kind) => (Some(kind), r)
          case _                                      => (None, rest)
        }
        val uri = catalog.datastores.get(ref)
          .map(d => resolveUri(d.uri, vars)).getOrElse(ref)
        // ONE meta read serves the kind check AND the unigram serving
        // bound — this runs per exec on the HTTP serving path
        val meta =
          try spark.read.parquet(s"$uri/meta").head()
          catch { case e: Exception => throw new IllegalArgumentException(
            s"$$$k: '$uri' is not a tokenizer artifact dir", e) }
        // read by FIELD NAME — saveBpe et al. could legally reorder the
        // meta columns and an ordinal read would silently misread kind
        val kind = meta.getString(meta.fieldIndex("kind"))
        want.foreach(w => require(w == kind,
          s"$$$k: $uri holds a '$kind' artifact, expected '$w'"))
        val table = spark.read.parquet(s"$uri/table")
        // a unigram artifact's RECORDED serving bound travels with the
        // table (a constant column the unigramSegment stage reads), so
        // binding by ref can never silently substitute the default —
        // the guarantee saveUnigram's meta exists to provide
        k -> ((if (kind == "unigram")
          table.withColumn("max_piece_len",
            lit(meta.getInt(meta.fieldIndex("max_piece_len"))))
        else table): Any)
    }

  private val indexKinds = (graft.llm.Ann.methods :+ "bm25").toSet

  /** Resolve `index:REF` (and kind-pinned `index:KIND:REF`) string vars
    * to a REGISTERED, ALREADY-BUILT index dir — the tokenizerRefVars
    * pattern for the retrieval indexes: a catalog service/job/HTTP exec
    * probing ANN or BM25 (the DFL `annProbe`/`bm25Probe` stages) targets
    * a persistent index built by ingest-ann/ingest-bm25/Ann.ensure
    * instead of paying the fingerprint-cache build on first exec. REF is
    * a catalog datastore name (its resolved uri) or a literal dir. The
    * var binds to the VALIDATED dir string: resolution fails LOUDLY when
    * the dir is not a built index, and the kind-pinned form fails when
    * the layout's self-described kind ([[graft.llm.Similarity
    * .indexKind]]) differs — `index:bm25:…` can never silently hand an
    * LSH layout to a lexical probe. Re-validated each exec (an index
    * swapped for another kind between execs is caught); never written
    * back to the var cache. */
  private def indexRefVars(vars: Map[String, Any]): Map[String, Any] =
    vars.collect {
      case (k, v: String) if v.startsWith("index:") =>
        val rest = v.stripPrefix("index:")
        val (want, ref) = rest.split(":", 2) match {
          case Array(kind, r) if indexKinds(kind) => (Some(kind), r)
          case _                                  => (None, rest)
        }
        val uri = catalog.datastores.get(ref)
          .map(d => resolveUri(d.uri, vars)).getOrElse(ref)
        val kind = graft.llm.Similarity.indexKind(spark, uri)
          .getOrElse(throw new IllegalArgumentException(
            s"$$$k: '$uri' is not a built index dir"))
        want.foreach(w => require(w == kind,
          s"$$$k: $uri holds a '$kind' index, expected '$w'"))
        k -> (uri: Any)
    }

  def serviceExec(serviceName: String, requestVars: Map[String, Any] = Map.empty): DataFrame = {
    val epoch = varEpoch.get()
    val service = catalog.services.getOrElse(serviceName,
      throw new NoSuchElementException(s"unknown service: $serviceName"))
    val ds = catalog.datastores(service.datastore)
    val scalarDefaults = service.defaults ++ requestVars
    val mtimeNow = mtimeOf(resolveUri(ds.uri, scalarDefaults))
    val cached = serviceVarCache.get(serviceName) match {
      case Some((t, m)) if t == mtimeNow => m
      case Some((_, m)) => // source changed: keep scalars, drop stale datasets
        m.filterNot(_._2.isInstanceOf[DataFrame])
      case None => Map.empty[String, Any]
    }
    val vars = cached ++ service.defaults ++ requestVars
    // `datastore:NAME` string vars resolve to that catalog datastore's
    // (cached, mtime-invalidated) DataFrame — how a service binds a
    // SECOND table for the two-dataset stages (dedupAgainst, decontam,
    // diff, asof, join). Resolved fresh each exec and NEVER written back
    // to the var cache: readDataStore owns the caching, and a persisted
    // DataFrame would go stale when the referenced store changes.
    val dsRefVars: Map[String, Any] = vars.collect {
      case (k, v: String) if v.startsWith("datastore:") =>
        val name = v.stripPrefix("datastore:")
        val refDs = catalog.datastores.getOrElse(name,
          throw new NoSuchElementException(s"unknown datastore in $$$k: $name"))
        k -> (readDataStore(refDs, vars): Any)
    }
    val tokRefVars = tokenizerRefVars(vars)
    val idxRefVars = indexRefVars(vars)
    val process = catalog.processes(service.process)
    val (out, dsVars) =
      DflFrame.pipelineWithVars(readDataStore(ds, vars), process.expression,
        vars ++ dsRefVars ++ tokRefVars ++ idxRefVars)
    // persist merged vars INCLUDING dataset-valued ones (reference :290 —
    // the evaluated $c is written back to the cache, so the next exec's
    // `$c ?: filter(@, …)` reuses it instead of re-filtering). Epoch-fenced:
    // skip (and undo) the write-back if an invalidation ran while this exec
    // was planning, else a stale dataset var would survive the clear with
    // an unchanged mtime and be reused forever.
    if (varEpoch.get() == epoch) {
      // dsVars seeds from ALL DataFrame-valued inputs, which includes the
      // datastore: refs resolved above — strip those before persisting, so
      // a ref re-resolves through readDataStore's mtime-keyed cache on
      // every exec instead of being served stale from the service cache
      // (whose key is the PRIMARY store's mtime, blind to the ref's)
      serviceVarCache(serviceName) =
        (mtimeNow, vars ++ (dsVars -- dsRefVars.keySet -- tokRefVars.keySet))
      if (varEpoch.get() != epoch) serviceVarCache.remove(serviceName)
    }
    out
  }

  def jobExec(jobName: String): DataFrame = {
    val job = catalog.jobs(jobName)
    val service = catalog.services(job.service)
    val vars = service.defaults ++ job.variables
    val ds = catalog.datastores(service.datastore)
    val process = catalog.processes(service.process)
    val out = DflFrame.pipeline(readDataStore(ds, vars), process.expression,
      vars ++ tokenizerRefVars(vars) ++ indexRefVars(vars))
    job.output.foreach { outName =>
      val outDs = catalog.datastores(outName)
      DataStoreIO.write(out, resolveUri(outDs.uri, vars),
        DataStoreIO.WriteOptions(format = outDs.format))
    }
    out
  }

  final case class JobResult(job: String, exitCode: Int, error: Option[String], rows: Long)

  /** Sequential, continue-on-error — per-job exit codes and errors
    * (reference: handlers/WorkflowExecHandler.go:61-212). */
  def workflowExec(workflowName: String): Seq[JobResult] = {
    val wf = catalog.workflows(workflowName)
    wf.jobs.map { jobName =>
      try {
        val job = catalog.jobs(jobName)
        val service = catalog.services(job.service)
        val vars = service.defaults ++ job.variables ++ wf.variables
        val ds = catalog.datastores(service.datastore)
        val process = catalog.processes(service.process)
        val out = DflFrame.pipeline(readDataStore(ds, vars), process.expression,
          vars ++ tokenizerRefVars(vars) ++ indexRefVars(vars))
        job.output.foreach { outName =>
          val outDs = catalog.datastores(outName)
          DataStoreIO.write(out, resolveUri(outDs.uri, vars),
            DataStoreIO.WriteOptions(format = outDs.format))
        }
        JobResult(jobName, 0, None, out.count())
      } catch {
        case e: Exception => JobResult(jobName, 1, Some(e.getMessage), 0L)
      }
    }
  }

  // ---------- streaming serving jobs ----------

  // servingjob name -> live StreamingQuery. Concurrent: start/status/stop
  // arrive from the HTTP thread pool; a name maps to at most ONE live
  // query (start on a running name fails loudly — the single-writer
  // contract of the checkpoint).
  private val servingQueries = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.streaming.StreamingQuery]

  // names with a servingStart IN FLIGHT: the atomic reservation that
  // closes the check-then-register window between the isActive guard and
  // `servingQueries(name) = q` — two concurrent starts on a fresh
  // checkpoint (no metadata yet, so Spark's same-query-id backstop does
  // not apply) could otherwise both pass the guard and double-launch one
  // checkpoint, orphaning a StreamingQuery handle. putIfAbsent wins or
  // 409s; the reservation is released on every exit path.
  private val servingStarting =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  private def servingVarStr(j: ServingJob, k: String): Option[String] =
    j.variables.get(k).map(_.toString).filter(_.nonEmpty)
  private def servingVarInt(j: ServingJob, k: String): Option[Int] =
    servingVarStr(j, k).map(v => v.toDouble.toInt)
  private def servingVarNum(j: ServingJob, k: String): Option[Double] =
    servingVarStr(j, k).map(_.toDouble)
  private def requiredVar(j: ServingJob, k: String): String =
    servingVarStr(j, k).getOrElse(throw new IllegalArgumentException(
      s"servingjob ${j.name}: missing required variable '$k'"))

  /** Resolve a serving job's index variable: `index:[KIND:]REF` catalog
    * refs go through the SAME resolution + kind validation the batch
    * probes use ([[indexRefVars]]); a bare dir is validated in place.
    * Returns (resolved dir, self-detected index kind). */
  private def servingIndexDir(j: ServingJob, varName: String)
      : (String, String) = {
    val raw = requiredVar(j, varName)
    val resolved =
      if (raw.startsWith("index:"))
        indexRefVars(Map(varName -> raw))(varName).toString
      else raw
    val kind = graft.llm.Similarity.indexKind(spark, resolved).getOrElse(
      throw new IllegalArgumentException(
        s"servingjob ${j.name}: '$resolved' ($$" + varName +
          ") is not a built index dir"))
    (resolved, kind)
  }

  /** A serving job's queries/output/checkpoint URI var — `datastore:NAME`
    * resolves to that catalog store's uri (so a serving job reads the
    * same entity a batch service would), anything else is the URI. */
  private def servingUri(j: ServingJob, k: String): String = {
    val raw = requiredVar(j, k)
    if (raw.startsWith("datastore:")) {
      val name = raw.stripPrefix("datastore:")
      val ds = catalog.datastores.getOrElse(name,
        throw new NoSuchElementException(
          s"servingjob ${j.name}: unknown datastore in $$$k: $name"))
      resolveUri(ds.uri, j.variables)
    } else raw
  }

  /** START a catalog serving job: resolve its variables, launch the
    * matching [[graft.streaming.StreamRunner]] stream (continuous — the
    * CLI's `--once` is a cron shape; a catalog-run job serves until
    * [[servingStop]]), register the live query under the entity name.
    * The entity stays declarative; this is its exec verb (the service/
    * job exec posture, for streams). Fails loudly when already running,
    * when the index family contradicts the job kind, or when a required
    * variable is missing. */
  def servingStart(name: String): Map[String, Any] = {
    val j = catalog.servingjobs.getOrElse(name,
      throw new NoSuchElementException(s"unknown servingjob: $name"))
    if (servingStarting.putIfAbsent(name, ()).isDefined)
      throw new IllegalStateException(
        s"servingjob $name is already starting — one live stream per " +
          "checkpoint, the single-writer contract")
    try {
    servingQueries.get(name).filter(_.isActive).foreach { _ =>
      throw new IllegalStateException(
        s"servingjob $name is already running — stop it first " +
          "(one live stream per checkpoint, the single-writer contract)")
    }
    val queries = servingUri(j, "queries")
    val output = servingUri(j, "output")
    val checkpoint = servingUri(j, "checkpoint")
    val format = servingVarStr(j, "format").getOrElse("jsonl")
    val outFormat = servingVarStr(j, "outFormat").getOrElse("jsonl")
    val k = servingVarInt(j, "k").getOrElse(10)
    val filter = servingVarStr(j, "filter")
    val q = j.kind match {
      case "ann" =>
        val (dir, idxKind) = servingIndexDir(j, "index")
        require(idxKind != "bm25",
          s"servingjob $name: kind=ann over a bm25 index — use kind=bm25")
        graft.streaming.StreamRunner.annServeJob(spark, queries, format,
          servingVarStr(j, "qidCol").getOrElse("qid"),
          servingVarStr(j, "vecCol").getOrElse("vec"),
          dir, idxKind, k, servingVarInt(j, "tuning"),
          output, outFormat, checkpoint, once = false,
          minCos = servingVarNum(j, "minCos"), filterDfl = filter,
          refine = servingVarInt(j, "refine"))
      case "bm25" =>
        val (dir, idxKind) = servingIndexDir(j, "index")
        require(idxKind == "bm25",
          s"servingjob $name: kind=bm25 over a '$idxKind' index — use kind=ann")
        graft.streaming.StreamRunner.bm25ServeJob(spark, queries, format,
          servingVarStr(j, "qidCol").getOrElse("qid"),
          servingVarStr(j, "termsCol").getOrElse("terms"),
          dir, k, output, outFormat, checkpoint, once = false,
          k1 = servingVarNum(j, "k1").getOrElse(1.2),
          b = servingVarNum(j, "b").getOrElse(0.75),
          filterDfl = filter)
      case "hybrid" =>
        val (bmDir, bmKind) = servingIndexDir(j, "bmIndex")
        require(bmKind == "bm25",
          s"servingjob $name: $$bmIndex holds a '$bmKind' index")
        val (annDir, annKind) = servingIndexDir(j, "annIndex")
        require(annKind != "bm25",
          s"servingjob $name: $$annIndex holds a bm25 index")
        graft.streaming.StreamRunner.hybridServeJob(spark, queries, format,
          servingVarStr(j, "qidCol").getOrElse("qid"),
          servingVarStr(j, "termsCol").getOrElse("terms"),
          servingVarStr(j, "vecCol").getOrElse("vec"),
          bmDir, annDir, annKind, k,
          pool = servingVarInt(j, "pool").getOrElse(k * 4),
          outUri = output, outFormat = outFormat,
          checkpoint = checkpoint, once = false,
          lambda = servingVarNum(j, "lambda"),
          k1 = servingVarNum(j, "k1").getOrElse(1.2),
          b = servingVarNum(j, "b").getOrElse(0.75),
          tuning = servingVarInt(j, "tuning"),
          filterDfl = filter, refine = servingVarInt(j, "refine"))
      case other => throw new IllegalArgumentException(
        s"servingjob $name: unknown kind '$other'")
    }
    servingQueries(name) = q
    Map("servingjob" -> name, "kind" -> j.kind, "running" -> true,
      "query_id" -> q.id.toString, "output" -> output)
    } finally { servingStarting.remove(name); () }
  }

  /** Live status of a catalog serving job: whether its stream is active,
    * the last progress snapshot (batch id, rows), and where the answers
    * land (ServeStats reads the telemetry sidecars from there). A job
    * never started — or started by a previous process — reports
    * running=false with no progress: the registry is process-local, like
    * every StreamingQuery handle. */
  def servingStatus(name: String): Map[String, Any] = {
    val j = catalog.servingjobs.getOrElse(name,
      throw new NoSuchElementException(s"unknown servingjob: $name"))
    servingQueries.get(name) match {
      case Some(q) =>
        val lp = Option(q.lastProgress)
        Map("servingjob" -> name, "kind" -> j.kind,
          "running" -> q.isActive,
          "query_id" -> q.id.toString,
          "batches" -> q.recentProgress.length,
          "last_batch_id" -> lp.map(_.batchId).getOrElse(-1L),
          "last_input_rows" -> lp.map(_.numInputRows).getOrElse(0L))
      case None =>
        Map("servingjob" -> name, "kind" -> j.kind, "running" -> false)
    }
  }

  /** STOP a catalog serving job's live stream (the checkpoint keeps the
    * served-batch fence, so a later start resumes exactly-once). No-op
    * error if the job isn't running in this process. */
  def servingStop(name: String): Map[String, Any] = {
    catalog.servingjobs.getOrElse(name,
      throw new NoSuchElementException(s"unknown servingjob: $name"))
    val q = servingQueries.getOrElse(name,
      throw new IllegalStateException(
        s"servingjob $name is not running in this process"))
    // stop BEFORE deregistering: a stop() failure (e.g. Spark's
    // stop-timeout) must leave the handle in the registry so the
    // operator can retry — remove-first would orphan a still-active
    // stream behind a 409-on-retry wall until process restart
    if (q.isActive) q.stop()
    servingQueries.remove(name)
    Map("servingjob" -> name, "running" -> false, "stopped" -> true)
  }

  /** Whether a serving job's stream is live in THIS process — the guard
    * the server's entity-DELETE route uses so a running job's only
    * handle can't be deleted out from under its stream. */
  def servingRunning(name: String): Boolean =
    servingQueries.get(name).exists(_.isActive)
}
