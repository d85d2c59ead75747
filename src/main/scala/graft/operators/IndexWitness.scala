package graft.operators

/** Filesystem-METADATA consistency witness for persisted index
  * directories (every family, through [[PersistedIndex]]) — the
  * r16-advisory fix for the per-query `count()` witness: instead of
  * running a Spark job over the whole code/corpus/posting table
  * before every search (pointless at a billion-row index), the
  * save/append path records a fingerprint of
  * the data FILE LISTING (sorted relative paths + byte sizes, hashed)
  * in the index meta, and the query path re-lists the directory and
  * compares — O(#files) filesystem metadata, zero Spark jobs, zero
  * data pages read.
  *
  * What it catches, loudly: any interrupted build or append that
  * touched the data tree — extra files (append without a meta update),
  * missing files (partial overwrite), truncated or grown files (size
  * change), renamed layout. A rebuild with identical row COUNTS but
  * different parameters also changes the listing (Spark writes fresh
  * task-UUID file names), which the old row-count witness could not
  * see. What it deliberately does not catch: in-place byte corruption
  * at identical length — parquet's own page checksums own that layer.
  *
  * Hidden entries (any RELATIVE-PATH segment starting with `_` or `.`:
  * `_SUCCESS`, the meta sidecar itself, temp files, and everything
  * under a `_temporary/` tree left by a killed write) are excluded,
  * matching Spark's own data-file visibility convention — which skips
  * hidden DIRECTORIES too, so a leaf-name-only check would bake a
  * stray temp tree into a save-time fingerprint and then fail every
  * later query as "stale" even though the visible data matches (r17
  * advisory). The walk goes through [[MetaIO.listDataFiles]] — the
  * Hadoop `FileSystem` listing, so the witness prices as one LIST call
  * on `file:`, `hdfs:`, and `s3a:` alike (r19 directive #3; the old
  * `java.nio` walk made every persisted index local-FS-only) — still
  * metadata-priced, still no data scan.
  */
object IndexWitness {

  /** Fingerprint of `dir`'s visible data files: sha-256 over the
    * sorted `relativePath|byteSize` listing. */
  def fingerprint(dir: String): String = {
    val entries = MetaIO.listDataFiles(dir).map { case (rel, len) => s"$rel|$len" }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Loud staleness check: the recorded fingerprint vs the directory's
    * current listing. `what`/`hint` compose the caller's error idiom
    * (e.g. "stale index from an interrupted build; rebuild with
    * savePqIndex"). */
  def check(dir: String, expected: String, what: String, hint: String): Unit = {
    val actual = fingerprint(dir)
    require(actual == expected,
      s"$dir: data-file listing fingerprint $actual does not match the meta's " +
        s"$expected — $what; $hint")
  }

  /** The sidecar key of the meta format version. */
  private[operators] val FormatKey = "formatVersion"

  /** Meta formatVersion enforcement over a properties sidecar; see
    * [[requireVersion]]. */
  def requireFormat(metaPath: String, props: java.util.Properties,
                    current: Int, hint: String): Unit =
    requireVersion(metaPath, Option(props.getProperty(FormatKey)), current, hint)

  /** Meta formatVersion enforcement, shared by every persisted-index
    * sidecar reader: the version is written into every meta but was
    * never read back (r18 advisory), so an index written by a NEWER
    * engine format would be silently misread — fields it knows nothing
    * about dropped on the floor — rather than failing with a named
    * message. Reads fail loudly in BOTH directions: older format → the
    * named upgrade/rebuild hint; newer format → "upgrade the engine".
    * An absent version predates versioned metas entirely (pre-v2) and
    * gets the same upgrade hint.
    */
  private[operators] def requireVersion(metaPath: String, version: Option[String],
                                        current: Int, hint: String): Unit = {
    require(version.isDefined,
      s"$metaPath predates versioned index metas (this engine reads format " +
        s"v$current) — index format upgraded; $hint")
    val v = version.get
    // toIntOption, not toInt: a corrupt/non-numeric version must die with
    // the named corrupt-meta message every other sidecar field gets, not a
    // bare NumberFormatException (r19 advisory)
    val parsed = v.toIntOption
    require(parsed.isDefined,
      s"$metaPath has a non-numeric formatVersion '$v' — corrupt index meta; $hint")
    val n = parsed.get
    require(n >= current,
      s"$metaPath is index meta format v$n; this engine reads v$current — " +
        s"index format upgraded; $hint")
    require(n <= current,
      s"$metaPath is index meta format v$n; this engine reads v$current — " +
        "the index was written by a NEWER engine; upgrade the engine (or " +
        s"rebuild the index with this one: $hint)")
  }
}

/** The sidecar lifecycle of one persisted-index family, written once
  * for all of them (inverted, PQ, IVF-PQ, semantic, text band, dHash
  * clip and frame): where the meta lives, its format version, its codec,
  * the named errors, the [[IndexWitness]] staleness check, and the
  * order in which a build or a maintenance step touches data and meta.
  * A family keeps only its data work and its meta fields.
  *
  * Sidecar keys: the family's `encode`d fields, plus `formatVersion`
  * and `dataFp` (the file-listing fingerprint of the index root), which
  * this class owns. A meta case class that carries `dataFp` reads it
  * through [[PersistedIndex.Fields.dataFp]]; on write its value is
  * ignored and the fresh fingerprint recorded instead.
  *
  * Build ([[build]]): the old sidecar is deleted BEFORE the data
  * overwrite and the new meta written last, so a crash mid-rebuild
  * leaves a loud no-meta (or fingerprint-less) state — never an old meta
  * over new data, which a row-count witness could miss when counts
  * coincide.
  *
  * Maintenance ([[maintain]]): the witness is checked first, so a stale
  * index is never appended to (drift cannot compound) nor compacted
  * (the inconsistency would be rewritten into "clean" files); the meta
  * is re-blessed last, and only when the step changed the data.
  *
  * Crash windows: an append or compaction that dies BEFORE its file
  * commit leaves only hidden `_temporary` files, which the fingerprint
  * excludes — the witness passes and a re-run recovers silently. The
  * stale error therefore fires only in the POST-commit window (data
  * files visible, meta re-bless lost), where re-running the append
  * would hit this same check: the one remedy the message names is a
  * rebuild.
  *
  * @param kind    the family's name in "not a graft <kind> index"
  * @param version the meta format version; bump on every incompatible
  *                sidecar change so an old index fails with a NAMED
  *                upgrade message
  * @param builder the save function named in build/rebuild hints
  */
private[graft] final class PersistedIndex[M](
    kind: String, version: Int, builder: String, store: PersistedIndex.Store)(
    encode: M => Seq[(String, Any)], decode: PersistedIndex.Fields => M) {
  import PersistedIndex._

  private def rebuild = s"rebuild with $builder"

  private def fields(root: String): Fields = {
    val where = s"$root/${store.name}"
    val props = store.read(root).getOrElse(throw new IllegalArgumentException(
      s"$root has no ${store.name} — not a graft $kind index; build with $builder first"))
    IndexWitness.requireVersion(where, props.get(IndexWitness.FormatKey), version, rebuild)
    Fields(root, props, k => s"$where is missing '$k' — an interrupted build, a " +
      s"corrupt sidecar, or not a graft $kind index; $rebuild")
  }

  /** The meta, format-checked; no witness (no listing, no Spark job). */
  def read(root: String): M = decode(fields(root))

  /** The meta, once the data listing matches its recorded fingerprint —
    * the loud pre-query / pre-maintenance check; `who` names the caller
    * in the error. Filesystem metadata only, no Spark job. */
  def verify(root: String, who: String): M = {
    val f = fields(root)
    val meta = decode(f)
    IndexWitness.check(root, f.dataFp,
      s"$who found a stale index — stale stats from an interrupted append or " +
        "compaction: data files changed without their meta (the write " +
        "crashed after its file commit, before the meta re-bless)",
      "re-running the append/compaction would refuse this same state — " +
        s"$rebuild to re-bless the index")
    meta
  }

  /** Build: old sidecar out, `write` the data and return its meta, then
    * bless the meta and the fingerprint. */
  def build(root: String)(write: => M): Unit = {
    store.clear(root)
    bless(root, write)
  }

  /** Maintenance step: [[verify]] first, then `work` on the meta; it
    * returns its result and the meta to re-bless, or None when it left
    * the data untouched. */
  def maintain[R](root: String, who: String)(work: M => (R, Option[M])): R = {
    val (out, next) = work(verify(root, who))
    next.foreach(bless(root, _))
    out
  }

  /** The properties a path-table build writes with its data, before
    * its bless: the version alone, so a crash in between reads as an
    * interrupted build (missing keys), not as a pre-versioned index. */
  def unblessed: Map[String, String] = Map(IndexWitness.FormatKey -> version.toString)

  private def bless(root: String, meta: M): Unit =
    store.write(root, encode(meta).map { case (k, v) => k -> v.toString }.toMap +
      (IndexWitness.FormatKey -> version.toString) +
      (FpKey -> IndexWitness.fingerprint(root)))
}

private[graft] object PersistedIndex {

  private val FpKey = "dataFp"

  /** A read sidecar: `apply` fails with the named missing-key error. */
  final case class Fields(root: String, props: Map[String, String],
                          missing: String => String) {
    def apply(k: String): String =
      props.getOrElse(k, throw new IllegalArgumentException(missing(k)))
    def int(k: String): Int = apply(k).toInt
    def long(k: String): Long = apply(k).toLong
    def dataFp: String = apply(FpKey)
  }

  /** Where a family's sidecar lives, relative to the index root. */
  sealed trait Store {
    def name: String
    def read(root: String): Option[Map[String, String]]
    def write(root: String, props: Map[String, String]): Unit
    def clear(root: String): Unit
  }

  /** The family's own properties file in the index root, published
    * atomically through [[MetaIO]]. */
  final case class PropsFile(name: String, comment: String) extends Store {
    def read(root: String): Option[Map[String, String]] = {
      import scala.jdk.CollectionConverters._
      MetaIO.readProps(s"$root/$name").map(_.asScala.toMap)
    }
    def write(root: String, props: Map[String, String]): Unit = {
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      MetaIO.writePropsAtomic(root, name, p, comment)
    }
    def clear(root: String): Unit = {
      MetaIO.mkdirs(root)
      MetaIO.deleteIfExists(s"$root/$name")
    }
  }

  /** The [[Layout]] path-table sidecar of the bucketed table in `sub`
    * (the root itself when empty); its reserved schema/bucket keys are
    * kept verbatim on every write. `clear` is a no-op: the bucketed
    * overwrite replaces the table directory, sidecar included. */
  final case class PathTable(sub: String = "") extends Store {
    private def dir(root: String) = if (sub.isEmpty) root else s"$root/$sub"
    def name: String =
      if (sub.isEmpty) Layout.PathTableMetaFile else s"$sub/${Layout.PathTableMetaFile}"
    def read(root: String): Option[Map[String, String]] = Layout.pathTableProps(dir(root))
    def write(root: String, props: Map[String, String]): Unit =
      Layout.rewritePathTableProps(dir(root), props)
    def clear(root: String): Unit = ()
  }
}
