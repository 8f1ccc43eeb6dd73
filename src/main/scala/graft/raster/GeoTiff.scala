package graft.raster

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}
import scala.collection.mutable.ArrayBuffer

/** Pure-JVM tiled GeoTIFF codec (SURVEY.md S5/S7/S8 physical layer).
  *
  * The reference reads scenes through rasterio/GDAL
  * (bdc_collection_builder/collections/utils.py:335–342, cog_translate at
  * utils.py:113–154, overview build at utils.py:381–401); this container
  * has no GDAL, so the container format is implemented directly: a classic
  * little-endian TIFF with tiled float32 pages, deflate compression, a
  * factor-2..64 overview pyramid as reduced-resolution subfile IFDs, and
  * the GeoTIFF georeferencing tags (ModelPixelScale, ModelTiepoint,
  * GeoKeyDirectory) plus GDAL's nodata convention (tag 42113).
  *
  * Scope, stated honestly: the READER accepts what the ecosystem commonly
  * produces for analytic rasters — big- or little-endian, tiled or
  * stripped, uncompressed / deflate / LZW / PackBits, chunky 1..n
  * samples/pixel (one page per channel) of
  * u8/i16/u16/i32/f32/f64, predictor none or horizontal differencing
  * (GDAL's `-co COMPRESS=LZW -co PREDICTOR=2` default for integer
  * rasters). The WRITER emits tiled f32/i16/u16/u8 samples (integer
  * dtypes clamp+truncate per the reference's publish path,
  * index_generator.py:109–136), deflate by default or LZW
  * for consumers that lack zlib. Both LZW directions are conformance-
  * tested against the JDK ImageIO TIFF plugin, not just round-tripped
  * against each other. Both sides speak BigTIFF (magic 43, 8-byte
  * offsets, LONG8 entries): the reader because GDAL's BIGTIFF=IF_SAFER
  * (the reference, utils.py:139) emits that container even for small
  * granules; the writer mirrors IF_SAFER — classic by default, upgrading
  * when the projected file would overflow classic's 4 GiB offset space
  * (mosaic-sized exports), with [[encodeTo]] streaming the bytes so
  * output size is never bounded by one JVM array.
  *
  * Everything here is driver/executor-local byte work: the distributed
  * story is [[SceneIO.readGeoTiffScenes]] (Spark binaryFile scan →
  * per-file decode on executors → tile explode), which keeps decode
  * embarrassingly parallel at any corpus size.
  */
object GeoTiff {

  /** Georeferencing + nodata sidecar of a GeoTIFF file. */
  final case class GeoMeta(
      pixelScale: Option[(Double, Double)] = None,  // (scaleX, scaleY)
      tiepoint: Option[(Double, Double)] = None,    // model X,Y of raster (0,0)
      epsg: Option[Int] = None,
      nodata: Option[Double] = None)

  /** One decoded page (full-resolution image or overview level). For
    * multi-sample files (an RGB composite: SamplesPerPixel = 3, chunky)
    * each sample channel becomes its own page, tagged by `sample`. */
  final case class Page(height: Int, width: Int, isOverview: Boolean,
                        pixels: Array[Float], sample: Int = 0)

  final case class Image(pages: Seq[Page], meta: GeoMeta) {
    def main: Page = pages.find(!_.isOverview).getOrElse(pages.head)
    def overviews: Seq[Page] = pages.filter(_.isOverview)
  }

  // ---------------------------------------------------------------- decode

  /** `big` marks a BigTIFF entry: 8-byte inline value field and LONG8
    * external offsets instead of classic TIFF's 4-byte ones. */
  private final case class Entry(tag: Int, typ: Int, count: Int, valueOfs: Long,
                                 big: Boolean) {
    def inlineBytes: Int = if (big) 8 else 4
  }

  private val TypeSize = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 6 -> 1, 8 -> 2,
    9 -> 4, 11 -> 4, 12 -> 8, 16 -> 8, 17 -> 8)

  /** Random-access byte source for the decoder: the whole file in memory
    * ([[ArraySrc]]) or a lazily-fetching ranged reader ([[RangedSrc]] —
    * the object-store GET-Range shape). The surface mirrors ByteBuffer's
    * absolute gets so the decode path is source-agnostic; positions stay
    * Int like the in-memory path (a per-(scene, band) COG is far below
    * 2 GiB — the distributed layout guarantees it). */
  private[raster] sealed trait ByteSrc {
    def order: ByteOrder
    /** Length of the file in bytes: every count read from it is checked
      * against this before anything is allocated. */
    def size: Long
    def get(p: Int): Byte
    def getShort(p: Int): Short
    def getInt(p: Int): Int
    def getLong(p: Int): Long
    def getDouble(p: Int): Double
    def slice(ofs: Long, len: Long): Array[Byte]
    /** Hint that `ranges` will be sliced soon — a ranged source coalesces
      * them into few large reads (GET request count is an object-store
      * latency/cost axis of its own, separate from bytes). No-op in
      * memory. */
    def prefetch(ranges: Seq[(Long, Long)]): Unit = ()
  }

  private final class ArraySrc(bytes: Array[Byte], val order: ByteOrder)
      extends ByteSrc {
    private val bb = ByteBuffer.wrap(bytes).order(order)
    def size: Long = bytes.length
    def get(p: Int): Byte = bb.get(p)
    def getShort(p: Int): Short = bb.getShort(p)
    def getInt(p: Int): Int = bb.getInt(p)
    def getLong(p: Int): Long = bb.getLong(p)
    def getDouble(p: Int): Double = bb.getDouble(p)
    def slice(ofs: Long, len: Long): Array[Byte] = {
      val out = new Array[Byte](len.toInt)
      val dup = bb.duplicate(); dup.position(ofs.toInt); dup.get(out)
      out
    }
  }

  /** Fetch-on-demand source over a pread function. Header/IFD traffic is
    * cached in `blockSize` chunks (one COG's IFD chain lives in the first
    * few blocks by construction — the writer emits IFDs before tile data);
    * tile payloads fetch their exact byte range, uncached (each segment is
    * read once). `bytesFetched` is the measured IO — the number a 100 TB
    * object-store bill is made of. */
  private[raster] final class RangedSrc(read: (Long, Int) => Array[Byte],
                                        fileLen: Long, val order: ByteOrder,
                                        blockSize: Int = 64 << 10)
      extends ByteSrc {
    private val blocks = scala.collection.mutable.LongMap.empty[Array[Byte]]
    def size: Long = fileLen
    var bytesFetched = 0L
    private def blockAt(bi: Long): Array[Byte] = blocks.getOrElseUpdate(bi, {
      val ofs = bi * blockSize
      val n = math.min(blockSize.toLong, fileLen - ofs).toInt
      require(n > 0, s"read past EOF: block $bi of $fileLen-byte file")
      readRequests += 1
      bytesFetched += n
      val b = read(ofs, n)
      require(b.length == n, s"ranged read returned ${b.length} of $n bytes")
      b
    })
    private def bytesAt(p: Long, n: Int): ByteBuffer = {
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        val b = blockAt((p + i) / blockSize)
        val off = ((p + i) % blockSize).toInt
        val take = math.min(n - i, b.length - off)
        System.arraycopy(b, off, out, i, take)
        i += take
      }
      ByteBuffer.wrap(out).order(order)
    }
    def get(p: Int): Byte = blockAt(p.toLong / blockSize)(p % blockSize)
    def getShort(p: Int): Short = bytesAt(p, 2).getShort
    def getInt(p: Int): Int = bytesAt(p, 4).getInt
    def getLong(p: Int): Long = bytesAt(p, 8).getLong
    def getDouble(p: Int): Double = bytesAt(p, 8).getDouble
    // coalesced prefetch ranges: (start, bytes); slice() serves from these
    // before issuing its own read
    private val prefetched = ArrayBuffer.empty[(Long, Array[Byte])]
    var readRequests = 0L
    override def prefetch(ranges: Seq[(Long, Long)]): Unit = {
      // merge ranges whose gap is under one block — for row-major tile
      // layouts a multi-tile window collapses to one read per tile row (or
      // one total), turning N GETs into a handful
      val sorted = ranges.filter(_._2 > 0).sortBy(_._1)
      if (sorted.isEmpty) return
      var (s, e) = (sorted.head._1, sorted.head._1 + sorted.head._2)
      val merged = ArrayBuffer.empty[(Long, Long)]
      for ((o, l) <- sorted.tail) {
        if (o - e <= blockSize) e = math.max(e, o + l)
        else { merged += ((s, e - s)); s = o; e = o + l }
      }
      merged += ((s, e - s))
      for ((o, l) <- merged) {
        require(o >= 0 && o + l <= fileLen, "prefetch range outside file")
        readRequests += 1
        bytesFetched += l
        val b = read(o, l.toInt)
        require(b.length == l.toInt, s"ranged read returned ${b.length} of $l bytes")
        prefetched += ((o, b))
      }
    }
    def slice(ofs: Long, len: Long): Array[Byte] = {
      require(ofs >= 0 && ofs + len <= fileLen, "tile segment outside file")
      prefetched.find { case (o, b) => ofs >= o && ofs + len <= o + b.length }
        .map { case (o, b) =>
          java.util.Arrays.copyOfRange(b, (ofs - o).toInt, (ofs - o + len).toInt)
        }
        .getOrElse {
          readRequests += 1
          bytesFetched += len
          val b = read(ofs, len.toInt)
          require(b.length == len.toInt, s"ranged read returned ${b.length} of $len bytes")
          b
        }
    }
  }

  /** IO accounting of one ranged decode: bytes actually fetched and the
    * number of read requests issued (both are object-store cost axes; a
    * multi-tile window coalesces to few requests via ByteSrc.prefetch). */
  final case class RangedIo(bytesRead: Long, requests: Long)

  /** Parse the 16-byte TIFF/BigTIFF header: (byte order, isBigTiff,
    * first IFD offset). */
  private def parseHeader(head: Array[Byte]): (ByteOrder, Boolean, Long) = {
    require(head.length >= 16, "not a TIFF: too short")
    val order = (head(0), head(1)) match {
      case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
      case ('M', 'M') => ByteOrder.BIG_ENDIAN
      case _ => throw new IllegalArgumentException("not a TIFF: bad byte-order mark")
    }
    val hb = ByteBuffer.wrap(head).order(order)
    val magic = hb.getShort(2) & 0xffff
    require(magic == 42 || magic == 43, s"not a TIFF (magic $magic)")
    val big = magic == 43
    val ifd0 =
      if (big) {
        require((hb.getShort(4) & 0xffff) == 8 && hb.getShort(6) == 0,
          "malformed BigTIFF header (offset size must be 8)")
        hb.getLong(8)
      } else hb.getInt(4).toLong & 0xffffffffL
    (order, big, ifd0)
  }

  /** Read an offset field: LONG8 in BigTIFF, LONG in classic TIFF. */
  private def offAt(buf: ByteSrc, p: Long, big: Boolean): Long =
    if (big) buf.getLong(p.toInt) else buf.getInt(p.toInt).toLong & 0xffffffffL

  def decode(bytes: Array[Byte]): Image = {
    require(bytes.length >= 16, "not a TIFF: too short")
    // BigTIFF (magic 43): GDAL's BIGTIFF=IF_SAFER emits this container even
    // for small granules, so the reader must speak it; within this codec a
    // file still has to fit one byte array (JVM 2 GiB) — the distributed
    // layout is one file per (scene, band), far below that
    val (order, big, ifd0) = parseHeader(bytes.take(16))
    val buf = new ArraySrc(bytes, order)
    var ifdOfs = ifd0
    val pages = ArrayBuffer.empty[Page]
    var meta = GeoMeta()
    var first = true
    // a corrupt next-IFD pointer can form a cycle; cap the page walk so
    // hostile input fails instead of spinning (64 overview levels is
    // already beyond any real pyramid)
    var walked = 0
    while (ifdOfs != 0) {
      require(walked < 256, "implausible TIFF: more than 256 IFDs (cyclic pointer?)")
      walked += 1
      val (entries, next) = readIfd(buf, ifdOfs, big)
      val (pgs, m) = decodePage(buf, entries)
      pages ++= pgs
      if (first) { meta = m; first = false }
      ifdOfs = next
    }
    require(pages.nonEmpty, "TIFF has no IFD")
    Image(pages.toSeq, meta)
  }

  /** Windowed (ROI) read — the Cloud-Optimized-GeoTIFF contract: decode
    * only the tiles/strips of ONE resolution level that intersect the
    * window, never touching the other segments' bytes. `level` 0 is the
    * full-resolution page, k >= 1 the k-th overview (window coordinates
    * are in THAT level's pixel grid, the rasterio overview+window shape).
    * Multi-sample (chunky) files return one page per sample, like
    * [[decode]]. The reference's S5 windowed read
    * (`ds.read(1, window=w)`, index_generator.py:123) on the COG side. */
  def decodeWindow(bytes: Array[Byte], x0: Int, y0: Int,
                   winW: Int, winH: Int, level: Int = 0): Image =
    decodeSelected(bytes, level, Some((x0, y0, winW, winH)))

  /** Decode ONE pyramid level in full, without touching the other levels'
    * segments — the rasterio overview read (`out_shape` at a pyramid
    * step). `decode` pays every page; this pays one. */
  def decodeLevel(bytes: Array[Byte], level: Int): Image =
    decodeSelected(bytes, level, None)

  /** Ranged [[decodeWindow]]: `read(offset, n)` must return exactly n
    * bytes (an object-store GET-Range or `FSDataInputStream.readFully` —
    * SceneIO.readGeoTiffScenesRanged wires the latter). Where decodeWindow
    * proves the DECODE contract (disjoint tiles never decompress) over an
    * already-materialized byte array, this proves the IO contract: only
    * the header blocks, the IFD chain, and the tile segments intersecting
    * the window are ever fetched. Returns (image, bytes actually fetched).
    * The reference gets this from GDAL's /vsicurl range reads under
    * rasterio (utils.py:335–342); measured in SCALE.md (COG windowed reads, r10). */
  def decodeWindowRanged(read: (Long, Int) => Array[Byte], fileLen: Long,
                         x0: Int, y0: Int, winW: Int, winH: Int,
                         level: Int = 0): (Image, RangedIo) =
    decodeSelectedRanged(read, fileLen, level, Some((x0, y0, winW, winH)))

  /** Ranged [[decodeLevel]] — one pyramid level's segments fetched, the
    * rest of the file never downloaded. Returns (image, IO stats). */
  def decodeLevelRanged(read: (Long, Int) => Array[Byte], fileLen: Long,
                        level: Int): (Image, RangedIo) =
    decodeSelectedRanged(read, fileLen, level, None)

  private def decodeSelectedRanged(read: (Long, Int) => Array[Byte],
                                   fileLen: Long, level: Int,
                                   window: Option[(Int, Int, Int, Int)]): (Image, RangedIo) = {
    require(fileLen >= 16, "not a TIFF: too short")
    val (order, big, ifd0) = parseHeader(read(0L, 16))
    val src = new RangedSrc(read, fileLen, order)
    (decodeSelectedSrc(src, big, ifd0, level, window),
      RangedIo(src.bytesFetched + 16, src.readRequests + 1))
  }

  private def decodeSelected(bytes: Array[Byte], level: Int,
                             window: Option[(Int, Int, Int, Int)]): Image = {
    require(bytes.length >= 16, "not a TIFF: too short")
    val (order, big, ifd0) = parseHeader(bytes.take(16))
    decodeSelectedSrc(new ArraySrc(bytes, order), big, ifd0, level, window)
  }

  private def decodeSelectedSrc(buf: ByteSrc, big: Boolean, ifd0: Long,
                                level: Int,
                                window: Option[(Int, Int, Int, Int)]): Image = {
    var ifdOfs = ifd0
    var meta: GeoMeta = null
    var selected: Map[Int, Entry] = null
    var overviewIdx = 0
    var walked = 0
    // keep walking past the selected page until a full-resolution IFD has
    // been seen: in a (rare) overviews-first TIFF the geo-metadata lives on
    // a LATER page than the selected overview, and stopping early would
    // silently return the overview's (usually empty) GeoMeta
    while (ifdOfs != 0 && (selected == null || meta == null)) {
      require(walked < 256, "implausible TIFF: more than 256 IFDs (cyclic pointer?)")
      walked += 1
      val (entries, next) = readIfd(buf, ifdOfs, big)
      val reduced = (entries.get(254).map(e => longs(buf, e)(0)).getOrElse(0L) & 1L) == 1L
      if (meta == null && !reduced) {
        // geo-metadata lives on the full-resolution IFD
        meta = decodePageMeta(buf, entries)
      }
      val levelOfThis = if (reduced) { overviewIdx += 1; overviewIdx } else 0
      if (levelOfThis == level && selected == null) selected = entries
      ifdOfs = next
    }
    require(selected != null, s"TIFF has no level-$level page")
    val win = window.map { case (x0, y0, winW, winH) =>
      Win(x0, y0, x0 + winW, y0 + winH) }.orNull
    val (pages, m) = decodePage(buf, selected, win)
    Image(pages, if (meta != null) meta else m)
  }

  private def readIfd(buf: ByteSrc, ofs: Long,
                      big: Boolean): (Map[Int, Entry], Long) = {
    val (n, first, stride) =
      if (big) {
        val c = buf.getLong(ofs.toInt)
        require(c >= 0 && c <= 0xffff, s"implausible BigTIFF IFD entry count $c")
        (c.toInt, ofs.toInt + 8, 20)
      } else (buf.getShort(ofs.toInt) & 0xffff, ofs.toInt + 2, 12)
    val entries = (0 until n).map { i =>
      val e = first + stride * i
      val count =
        if (big) {
          val c = buf.getLong(e + 4)
          require(c >= 0 && c <= Int.MaxValue, s"BigTIFF entry count $c too large")
          c.toInt
        } else buf.getInt(e + 4)
      Entry(buf.getShort(e) & 0xffff, buf.getShort(e + 2) & 0xffff,
        count, e + (if (big) 12L else 8L), big)
    }
    val next = offAt(buf, first + stride.toLong * n, big)
    (entries.map(e => e.tag -> e).toMap, next)
  }

  /** An entry's `count` values of `size` bytes at `base` lie inside the
    * file: a count taken from the file must not size an allocation the
    * file cannot fill. */
  private def requireInFile(buf: ByteSrc, e: Entry, base: Long, size: Int): Unit =
    require(e.count >= 0 && base >= 0 && base + e.count.toLong * size <= buf.size,
      s"TIFF tag ${e.tag}: ${e.count} values at offset $base overrun the ${buf.size}-byte file")

  /** Integer values of an entry (SHORT/LONG/BYTE/LONG8), inline or external. */
  private def longs(buf: ByteSrc, e: Entry): Array[Long] = {
    val sz = TypeSize(e.typ)
    val base = if (sz.toLong * e.count <= e.inlineBytes) e.valueOfs
               else offAt(buf, e.valueOfs, e.big)
    requireInFile(buf, e, base, sz)
    Array.tabulate(e.count) { i =>
      val p = (base + i.toLong * sz).toInt
      e.typ match {
        case 1 | 2 | 6 => buf.get(p).toLong & 0xff
        case 3 | 8     => buf.getShort(p).toLong & 0xffff
        case 4 | 9     => buf.getInt(p).toLong & 0xffffffffL
        case 16 | 17   => buf.getLong(p)
        case t => throw new IllegalArgumentException(s"unsupported integer TIFF type $t")
      }
    }
  }

  private def doubles(buf: ByteSrc, e: Entry): Array[Double] = {
    require(e.typ == 12, s"expected DOUBLE entry, got type ${e.typ}")
    val base = if (8L * e.count <= e.inlineBytes) e.valueOfs
               else offAt(buf, e.valueOfs, e.big)
    requireInFile(buf, e, base, 8)
    Array.tabulate(e.count)(i => buf.getDouble((base + 8L * i).toInt))
  }

  private def ascii(buf: ByteSrc, e: Entry): String = {
    val base = if (e.count <= e.inlineBytes) e.valueOfs
               else offAt(buf, e.valueOfs, e.big)
    requireInFile(buf, e, base, 1)
    val b = Array.tabulate(e.count)(i => buf.get((base + i).toInt))
    new String(b.takeWhile(_ != 0), "US-ASCII")
  }

  /** Window of a page in its own pixel grid, half-open [x0,x1)x[y0,y1). */
  private final case class Win(x0: Int, y0: Int, x1: Int, y1: Int)

  private def decodePage(buf: ByteSrc, t: Map[Int, Entry],
                         win: Win = null): (Seq[Page], GeoMeta) = {
    def one(tag: Int, default: Long = -1): Long =
      t.get(tag).map(e => longs(buf, e)(0)).getOrElse(default)

    val width  = one(256).toInt
    val height = one(257).toInt
    require(width > 0 && height > 0, "TIFF page missing dimensions")
    val bits = one(258, 1).toInt
    val compression = one(259, 1).toInt
    require(compression == 1 || compression == 5 || compression == 8 || compression == 32773,
      s"unsupported TIFF compression $compression (none/lzw/deflate/packbits)")
    val spp = one(277, 1).toInt
    require(spp >= 1 && spp <= 64, s"implausible SamplesPerPixel $spp")
    // corrupt headers must not drive allocation: cap the TOTAL per-page payload
    // across all samples (2^28 samples = 1 GiB of float32), far above real
    // per-band scenes; spp is included so a hostile spp=64 header cannot
    // multiply the cap 64x
    require(height.toLong * width * spp <= (1L << 28),
      s"implausible TIFF page ${width}x${height}x$spp (corrupt header?)")
    // multi-sample files must be chunky (PlanarConfiguration 1, the GDAL
    // default): samples interleave per pixel and split into one page per
    // channel below; planar sample-major strips are not in scope
    require(spp == 1 || one(284, 1) == 1L,
      s"only chunky (PlanarConfiguration=1) multi-sample TIFFs supported")
    t.get(258).foreach { e =>
      val all = longs(buf, e)
      require(all.forall(_ == all(0)), s"mixed BitsPerSample unsupported: ${all.mkString(",")}")
    }
    t.get(339).foreach { e =>
      val all = longs(buf, e)
      require(all.forall(_ == all(0)), s"mixed SampleFormat unsupported: ${all.mkString(",")}")
    }
    val fmt = one(339, 1).toInt
    val predictor = one(317, 1).toInt
    require(predictor == 1 || predictor == 2,
      s"unsupported TIFF predictor $predictor (none/horizontal)")
    require(predictor == 1 || fmt != 3,
      "horizontal-differencing predictor (2) applies to integer samples; floats use predictor 3 (unsupported)")
    val reduced = (one(254, 0) & 1L) == 1L

    // window bounds collapse to the whole page on a full decode, so the
    // single readBlock below serves both paths with predictable branches
    if (win != null)
      require(win.x0 >= 0 && win.y0 >= 0 && win.x1 > win.x0 && win.y1 > win.y0 &&
        win.x1 <= width && win.y1 <= height,
        s"window (${win.x0},${win.y0})..(${win.x1},${win.y1}) outside ${width}x$height")
    val wx0 = if (win == null) 0 else win.x0
    val wy0 = if (win == null) 0 else win.y0
    val wx1 = if (win == null) width else win.x1
    val wy1 = if (win == null) height else win.y1
    val outW = wx1 - wx0
    val outH = wy1 - wy0

    val pixels = Array.fill(spp)(new Array[Float](outH * outW))
    val bytesPerSample = bits / 8

    def readBlock(data: Array[Byte], rowOfs: Int, colOfs: Int, bh: Int, bw: Int): Unit = {
      val bb = ByteBuffer.wrap(data).order(buf.order)
      var r = 0
      while (r < bh) {
        val gr = rowOfs + r
        if (gr >= wy0 && gr < wy1) {
          var c = 0
          while (c < bw * spp) {
            val gc = colOfs + c / spp
            if (gc >= wx0 && gc < wx1) {
              val p = (r * bw * spp + c) * bytesPerSample
              val v: Float = (bits, fmt) match {
                case (8, 1)  => (bb.get(p) & 0xff).toFloat
                case (8, 2)  => bb.get(p).toFloat
                case (16, 1) => (bb.getShort(p) & 0xffff).toFloat
                case (16, 2) => bb.getShort(p).toFloat
                case (32, 1) => (bb.getInt(p).toLong & 0xffffffffL).toFloat
                case (32, 2) => bb.getInt(p).toFloat
                case (32, 3) => bb.getFloat(p)
                case (64, 3) => bb.getDouble(p).toFloat
                case other => throw new IllegalArgumentException(
                  s"unsupported (bits, sampleFormat) $other")
              }
              pixels(c % spp)((gr - wy0) * outW + (gc - wx0)) = v
            }
            c += 1
          }
        }
        r += 1
      }
    }

    if (t.contains(322)) { // tiled layout
      val tw = one(322).toInt
      val th = one(323).toInt
      val offsets = longs(buf, t(324))
      val counts  = longs(buf, t(325))
      val across = (width + tw - 1) / tw
      def tileNeeded(i: Int): Boolean = {
        val rowOfs = (i / across) * th
        val colOfs = (i % across) * tw
        rowOfs < wy1 && rowOfs + th > wy0 && colOfs < wx1 && colOfs + tw > wx0
      }
      buf.prefetch(offsets.indices.collect {
        case i if tileNeeded(i) => (offsets(i), counts(i))
      })
      offsets.indices.foreach { i =>
        val rowOfs = (i / across) * th
        val colOfs = (i % across) * tw
        // the COG contract: segments disjoint from the window never
        // decompress (nor, with range reads, even download)
        if (tileNeeded(i)) {
          val raw = buf.slice(offsets(i), counts(i))
          val data = decompress(raw, compression, th * tw * spp * bytesPerSample)
          if (predictor == 2) undoPredictor2(data, tw * spp, bytesPerSample, buf.order, spp)
          readBlock(data, rowOfs, colOfs, th, tw)
        }
      }
    } else {           // stripped layout
      val rps = one(278, height).toInt
      val offsets = longs(buf, t(273))
      val counts  = longs(buf, t(279))
      buf.prefetch(offsets.indices.collect {
        case i if i * rps < wy1 && i * rps + math.min(rps, height - i * rps) > wy0 =>
          (offsets(i), counts(i))
      })
      offsets.indices.foreach { i =>
        val rows = math.min(rps, height - i * rps)
        if (i * rps < wy1 && i * rps + rows > wy0) {
          val raw = buf.slice(offsets(i), counts(i))
          val data = decompress(raw, compression, rows * width * spp * bytesPerSample)
          if (predictor == 2) undoPredictor2(data, width * spp, bytesPerSample, buf.order, spp)
          readBlock(data, i * rps, 0, rows, width)
        }
      }
    }

    val meta = decodePageMeta(buf, t)
    (pixels.toSeq.zipWithIndex.map { case (px, sIdx) =>
      Page(outH, outW, reduced, px, sIdx)
    }, meta)
  }

  private def decodePageMeta(buf: ByteSrc, t: Map[Int, Entry]): GeoMeta =
    GeoMeta(
      pixelScale = t.get(33550).map { e =>
        val d = doubles(buf, e); (d(0), d(1))
      },
      tiepoint = t.get(33922).map { e =>
        val d = doubles(buf, e); (d(3), d(4)) // model X,Y for raster (0,0)
      },
      epsg = t.get(34735).flatMap { e =>
        val k = longs(buf, e)
        // GeoKeyDirectory: 4-short header then (key, loc, count, value)
        // quadruples; 2048 = GeographicTypeGeoKey, 3072 = ProjectedCSTypeGeoKey
        (4 until k.length by 4).collectFirst {
          case i if k(i) == 3072 || k(i) == 2048 => k(i + 3).toInt
        }
      },
      nodata = t.get(42113).flatMap(e => ascii(buf, e).trim.toDoubleOption))

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var total = 0
    while (total < expected && !inf.finished()) {
      val n = inf.inflate(out, total, expected - total)
      require(n > 0 || !inf.needsInput, "truncated deflate stream in TIFF tile")
      total += n
    }
    inf.end()
    out
  }

  private def decompress(raw: Array[Byte], compression: Int, expected: Int): Array[Byte] =
    compression match {
      case 1     => raw
      case 5     => lzwDecode(raw, expected)
      case 8     => inflate(raw, expected)
      case 32773 => packbitsDecode(raw, expected)
      case c     => throw new IllegalArgumentException(s"unsupported TIFF compression $c")
    }

  /** Undo TIFF predictor 2 (horizontal differencing, tag 317): each sample
    * in a block row is stored as the delta from the SAME CHANNEL of the
    * pixel to its left (`stride` = SamplesPerPixel for chunky files); the
    * cumulative sum restores it. Applies per decompressed block
    * (tile/strip) row, on samples of the page's byte width, in the file's
    * byte order — modular integer addition, so it is exact for every
    * integer sample type. */
  private def undoPredictor2(data: Array[Byte], samplesPerRow: Int,
                             bytesPerSample: Int, order: ByteOrder,
                             stride: Int = 1): Unit = {
    val rows = data.length / (samplesPerRow * bytesPerSample)
    bytesPerSample match {
      case 1 =>
        var r = 0
        while (r < rows) {
          val base = r * samplesPerRow
          var c = stride
          while (c < samplesPerRow) {
            data(base + c) = (data(base + c) + data(base + c - stride)).toByte
            c += 1
          }
          r += 1
        }
      case 2 =>
        val bb = ByteBuffer.wrap(data).order(order)
        var r = 0
        while (r < rows) {
          val base = r * samplesPerRow
          var c = stride
          while (c < samplesPerRow) {
            val p = (base + c) * 2
            bb.putShort(p, (bb.getShort(p) + bb.getShort(p - 2 * stride)).toShort)
            c += 1
          }
          r += 1
        }
      case 4 =>
        val bb = ByteBuffer.wrap(data).order(order)
        var r = 0
        while (r < rows) {
          val base = r * samplesPerRow
          var c = stride
          while (c < samplesPerRow) {
            val p = (base + c) * 4
            bb.putInt(p, bb.getInt(p) + bb.getInt(p - 4 * stride))
            c += 1
          }
          r += 1
        }
      case b => throw new IllegalArgumentException(
        s"predictor 2 unsupported for $b-byte samples")
    }
  }

  // ------------------------------------------------- TIFF LZW (section 13)
  // TIFF-variant LZW: MSB-first bit packing, ClearCode=256, EOI=257, first
  // table entry 258, 9→12 bit codes with the TIFF "early change" — the
  // code width grows when the NEXT table slot is (1<<bits)-1, one code
  // earlier than GIF. Both directions are verified against the JDK ImageIO
  // TIFF plugin in GeoTiffSpec (decode-what-they-write and
  // they-read-what-we-write), so the width timing is pinned by a second
  // implementation, not self-consistency alone.

  private val LzwClear = 256
  private val LzwEoi = 257

  private[raster] def lzwDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outPos = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4096)
    var next = 258
    var bits = 9
    var acc = 0L        // MSB-first bit accumulator
    var accBits = 0
    var inPos = 0
    def read(): Int = {
      while (accBits < bits) {
        if (inPos >= data.length) return LzwEoi // truncated stream ends the page
        acc = (acc << 8) | (data(inPos) & 0xffL)
        accBits += 8
        inPos += 1
      }
      accBits -= bits
      ((acc >>> accBits) & ((1 << bits) - 1)).toInt
    }
    def firstByteOf(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    /** Write the string for `code`; codes are literals or built entries. */
    def emit(code: Int): Unit = {
      var sp = 0
      var c = code
      while (c >= 258) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      stack(sp) = c.toByte
      var i = sp
      while (i >= 0 && outPos < expected) { out(outPos) = stack(i); outPos += 1; i -= 1 }
    }
    var oldCode = -1
    var done = false
    while (!done && outPos < expected) {
      val code = read()
      if (code == LzwEoi) done = true
      else if (code == LzwClear) { next = 258; bits = 9; oldCode = -1 }
      else if (oldCode < 0) {
        require(code < 256, s"corrupt LZW: first code after clear is $code, not a literal")
        emit(code)
        oldCode = code
      } else {
        require(code <= next, s"corrupt LZW: code $code beyond table size $next")
        if (code < next) {
          emit(code)
          // a writer may run the table to the 12-bit brim without clearing;
          // past 4095 we keep decoding known codes and just stop adding
          if (next < 4096) { prefix(next) = oldCode; suffix(next) = firstByteOf(code); next += 1 }
        } else { // KwKwK: the entry being referenced is the one we add now
          require(next < 4096, "corrupt LZW: KwKwK reference past a full table")
          prefix(next) = oldCode; suffix(next) = firstByteOf(oldCode); next += 1
          emit(code)
        }
        oldCode = code
        if (next == (1 << bits) - 1 && bits < 12) bits += 1
      }
    }
    out
  }

  /** TIFF LZW encoder, the exact mirror of [[lzwDecode]]: the code width
    * used for each emitted code is derived from the SIMULATED DECODER's
    * table size (which lags the encoder's own by one entry), so both sides
    * grow at 511/1023/2047 in lockstep; the table clears before the
    * encoder's next slot could exceed 12 bits. */
  private[raster] def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
    var acc = 0L
    var accBits = 0
    var bits = 9
    var decNext = 258       // simulated decoder table size
    var emitted = 0         // data codes emitted since the last clear
    def write(code: Int): Unit = {
      acc = (acc << bits) | code
      accBits += bits
      while (accBits >= 8) {
        out.write(((acc >>> (accBits - 8)) & 0xff).toInt)
        accBits -= 8
      }
    }
    def writeData(code: Int): Unit = {
      write(code)
      emitted += 1
      if (emitted >= 2) { // decoder adds an entry for every code after the first
        decNext += 1
        if (decNext == (1 << bits) - 1 && bits < 12) bits += 1
      }
    }
    val table = new java.util.HashMap[Integer, Integer](8192)
    var encNext = 258
    write(LzwClear)
    var prefixCode = -1
    var i = 0
    while (i < data.length) {
      val k = data(i) & 0xff
      if (prefixCode < 0) prefixCode = k
      else {
        val key = Integer.valueOf((prefixCode << 8) | k)
        val hit = table.get(key)
        if (hit != null) prefixCode = hit.intValue()
        else {
          writeData(prefixCode)
          table.put(key, Integer.valueOf(encNext))
          encNext += 1
          prefixCode = k
          if (encNext == 4094) { // clear before the table can outgrow 12 bits
            writeData(prefixCode)
            write(LzwClear)
            table.clear(); encNext = 258; decNext = 258; emitted = 0; bits = 9
            prefixCode = -1
          }
        }
      }
      i += 1
    }
    if (prefixCode >= 0) writeData(prefixCode)
    write(LzwEoi)
    if (accBits > 0) out.write(((acc << (8 - accBits)) & 0xff).toInt)
    out.toByteArray
  }

  /** PackBits decode (TIFF section 9 / Apple RLE): n in [0,127] copies n+1
    * literals; n in [-127,-1] repeats the next byte 1-n times; -128 is a
    * no-op. */
  private[raster] def packbitsDecode(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var inPos = 0
    var outPos = 0
    while (inPos < data.length && outPos < expected) {
      val n = data(inPos); inPos += 1
      if (n >= 0) {
        val len = math.min(n + 1, expected - outPos)
        require(inPos + len <= data.length, "truncated PackBits literal run")
        System.arraycopy(data, inPos, out, outPos, len)
        inPos += n + 1; outPos += len
      } else if (n != -128) {
        require(inPos < data.length, "truncated PackBits repeat run")
        val v = data(inPos); inPos += 1
        var len = math.min(1 - n, expected - outPos)
        while (len > 0) { out(outPos) = v; outPos += 1; len -= 1 }
      }
    }
    out
  }

  // ---------------------------------------------------------------- encode

  /** Encode one band as a tiled deflate GeoTIFF with an overview
    * pyramid (the reference's cog_translate + build_overviews,
    * utils.py:113–154, 381–401). Overview factors that would shrink either
    * dimension below one pixel are skipped. Layout is COG-shaped: header,
    * IFDs first (main page then overviews), then tile data.
    *
    * `dtype` selects the on-disk sample format: "f32" (default), "i16",
    * "u16" or "u8" — the integer containers the reference publishes
    * (index_generator.py:109–136 writes `profile['dtype'] =
    * band.data_type` int16/uint8 COGs). Integer samples are clamped to
    * the dtype range then truncated toward zero, exactly the reference's
    * `raster[raster < min] = min; raster[raster > max] = max;
    * raster.astype(dtype)` sequence (and the engine-side R10 clamp,
    * BandExpressionCompiler.clamp). NaN maps to the nodata value when one
    * is set, else 0 (the reference fills masked pixels with nodata before
    * the cast).
    *
    * `container` selects the TIFF container: "classic" (magic 42, 4-byte
    * offsets, 4 GiB file cap), "bigtiff" (magic 43, 8-byte offsets — what
    * GDAL writes with BIGTIFF=YES), or "auto" — classic unless the
    * projected file would overflow 4 GiB (GDAL's BIGTIFF=IF_SAFER), so
    * small granules keep the maximally-compatible container and mosaics
    * upgrade transparently. For outputs past one JVM array use
    * [[encodeTo]] — this variant materializes the file in memory. */
  def encode(height: Int, width: Int, pixels: Array[Float],
             meta: GeoMeta = GeoMeta(),
             tileSize: Int = 256,
             overviewFactors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
             compressionLevel: Int = Deflater.DEFAULT_COMPRESSION,
             codec: String = "deflate",
             dtype: String = "f32",
             container: String = "auto"): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    encodeTo(bos, height, width, pixels, meta, tileSize, overviewFactors,
      compressionLevel, codec, dtype, container)
    bos.toByteArray
  }

  /** Streaming [[encode]]: identical layout, written straight to `os`, so
    * output size is bounded by the container (4 GiB classic, effectively
    * none for BigTIFF) rather than one JVM array — the mosaic-sized export
    * path. Since round 10 this is a thin wrapper over [[RowEncoder]] fed
    * from the in-memory band: the encoder consumes rows incrementally, so
    * this array variant keeps its old contract while the row variant bounds
    * per-task memory at O(strip) for callers that never materialize the
    * band (SceneIO.writeGeoTiffScenes). Returns total bytes written. */
  def encodeTo(os: java.io.OutputStream,
               height: Int, width: Int, pixels: Array[Float],
               meta: GeoMeta = GeoMeta(),
               tileSize: Int = 256,
               overviewFactors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
               compressionLevel: Int = Deflater.DEFAULT_COMPRESSION,
               codec: String = "deflate",
               dtype: String = "f32",
               container: String = "auto"): Long = {
    require(pixels.length == height * width, "pixels length != height*width")
    val enc = new RowEncoder(os, width, meta, tileSize, overviewFactors,
      compressionLevel, codec, dtype, container)
    var r = 0
    while (r < height) { enc.addRow(pixels, r * width); r += 1 }
    enc.finish()
  }

  /** Compressed-tile accumulator for [[RowEncoder]]: tiles stay on the heap
    * until `memCap` cumulative bytes, then overflow — existing tiles first —
    * to a task-local temp file, so encoder memory is bounded whatever the
    * scene size while small granules (the common case) never touch disk.
    * Append-only during encode; random-access replay during the final
    * layout pass; `close()` deletes the spill file. */
  private final class TileSpill(memCap: Long) {
    private val lens = ArrayBuffer.empty[Int]
    private val mem = ArrayBuffer.empty[Array[Byte]]
    private val offs = ArrayBuffer.empty[Long]
    private var memBytes = 0L
    private var end = 0L
    private var raf: java.io.RandomAccessFile = null
    private var path: java.io.File = null
    def spilled: Boolean = raf != null
    def append(t: Array[Byte]): Int = {
      if (raf == null && memBytes + t.length > memCap) spill()
      val id = lens.length
      lens += t.length
      if (raf == null) { mem += t; offs += -1L; memBytes += t.length }
      else { offs += end; raf.seek(end); raf.write(t); end += t.length; mem += null }
      id
    }
    private def spill(): Unit = {
      path = java.io.File.createTempFile("graft-tiff-spill", ".bin")
      path.deleteOnExit()
      raf = new java.io.RandomAccessFile(path, "rw")
      var i = 0
      while (i < mem.length) { offs(i) = end; raf.write(mem(i)); end += lens(i); mem(i) = null; i += 1 }
      memBytes = 0L
    }
    def length(id: Int): Int = lens(id)
    def read(id: Int): Array[Byte] = {
      val m = mem(id)
      if (m != null) m
      else { val b = new Array[Byte](lens(id)); raf.seek(offs(id)); raf.readFully(b); b }
    }
    def close(): Unit = {
      if (raf != null) { raf.close(); path.delete(); raf = null }
      mem.clear(); lens.clear(); offs.clear()
    }
  }

  /** Row-streaming GeoTIFF encoder — the O(strip) export path. Feed rows
    * top-down with [[addRow]], then [[finish]]; height is whatever was fed,
    * so callers that discover extent while iterating (a sorted tile
    * shuffle) never materialize the band. Live memory: one tileSize-row
    * band per page (main + overviews, Σ < 2·tileSize·width floats — ~22 MB
    * at Sentinel-2's 10980² with the 256 default) plus compressed tiles up
    * to `memCap` before [[TileSpill]] overflows them to a temp file. The
    * reference holds the same blockwise bound through rasterio windows
    * (index_generator.py:93, 121–136); the old path here stitched the full
    * band per task (~480 MB at 10980² f32) before encoding.
    *
    * Output is byte-identical to [[encodeTo]] for the same inputs — same
    * COG layout (header, IFDs first, tile data in page order), same `auto`
    * container projection — because encodeTo IS this encoder fed from an
    * array; GeoTiffStreamSpec pins the identity including the spill path.
    *
    * Overview rows are sampled on the fly (row r fills overview row r/f
    * when f | r). A band is flushed to tiles only when the NEXT row for it
    * arrives, never when it merely fills: the last generated row must stay
    * unflushed so finish() can drop the one-row overshoot an overview
    * produces when factor ∤ height, and prune factor pages whose height
    * rounds to zero — decisions that need the true height. */
  final class RowEncoder(os: java.io.OutputStream,
                         width: Int,
                         meta: GeoMeta = GeoMeta(),
                         tileSize: Int = 256,
                         overviewFactors: Seq[Int] = Seq(2, 4, 8, 16, 32, 64),
                         compressionLevel: Int = Deflater.DEFAULT_COMPRESSION,
                         codec: String = "deflate",
                         dtype: String = "f32",
                         container: String = "auto",
                         memCap: Long = 128L << 20) {
    require(width > 0, "width must be positive")
    require(tileSize % 16 == 0 && tileSize > 0, "TIFF tile size must be a multiple of 16")
    private val compressionTag: Long = codec match {
      case "deflate" => 8L
      case "lzw"     => 5L
      case "none"    => 1L
      case c => throw new IllegalArgumentException(
        s"unsupported write codec '$c' (deflate/lzw/none)")
    }
    // (bits, TIFF SampleFormat, clamp lo, clamp hi); format 3 = IEEE float,
    // 2 = signed int, 1 = unsigned int
    private val (bits, sampleFormat, clampLo, clampHi) = dtype match {
      case "f32" => (32, 3L, 0.0, 0.0)
      case "i16" => (16, 2L, Short.MinValue.toDouble, Short.MaxValue.toDouble)
      case "u16" => (16, 1L, 0.0, 65535.0)
      case "u8"  => (8, 1L, 0.0, 255.0)
      case t => throw new IllegalArgumentException(
        s"unsupported write dtype '$t' (f32/i16/u16/u8)")
    }
    private val bytesPerSample = bits / 8
    private val fill = meta.nodata.map(_.toFloat).getOrElse(0f)

    // clamp → truncate toward zero (numpy astype semantics); NaN → nodata
    private def toInt(v: Float): Long = {
      val x = if (java.lang.Float.isNaN(v)) meta.nodata.getOrElse(0.0).toFloat else v
      math.max(clampLo, math.min(clampHi, x.toDouble)).toLong
    }
    private def putSample(buf: ByteBuffer, v: Float): Unit = dtype match {
      case "f32" => buf.putFloat(v)
      case "i16" | "u16" => buf.putShort(toInt(v).toShort)
      case "u8" => buf.put(toInt(v).toByte)
    }
    private def compressTile(raw: Array[Byte]): Array[Byte] = codec match {
      case "deflate" => deflate(raw, compressionLevel)
      case "lzw"     => lzwEncode(raw)
      case _         => raw
    }

    private final class Page(val factor: Int, val w: Int) {
      val band = new Array[Float](tileSize * w)
      var rowsInBand = 0
      var bandsFlushed = 0
      val tileIds = ArrayBuffer.empty[Int]
    }
    // width-pruned up front; height-pruned at finish() when height is known
    private val pages: IndexedSeq[Page] =
      new Page(1, width) +: overviewFactors.sorted
        .filter(width / _ >= 1).map(f => new Page(f, width / f)).toIndexedSeq

    private val spill = new TileSpill(memCap)
    private var rowsSeen = 0
    private[raster] def spilledToDisk: Boolean = spill.spilled

    private def flushBand(p: Page, rows: Int): Unit = {
      val across = (p.w + tileSize - 1) / tileSize
      var tc = 0
      while (tc < across) {
        val raw = ByteBuffer.allocate(tileSize * tileSize * bytesPerSample)
          .order(ByteOrder.LITTLE_ENDIAN)
        var r = 0
        while (r < tileSize) {
          var c = 0
          while (c < tileSize) {
            val gc = tc * tileSize + c
            putSample(raw, if (r < rows && gc < p.w) p.band(r * p.w + gc) else fill)
            c += 1
          }
          r += 1
        }
        p.tileIds += spill.append(compressTile(raw.array()))
        tc += 1
      }
      p.bandsFlushed += 1
      p.rowsInBand = 0
    }

    /** Append the next image row: `width` floats read from `src(off)`. */
    def addRow(src: Array[Float], off: Int = 0): Unit = {
      require(off >= 0 && off + width <= src.length, "row shorter than width")
      var pi = 0
      while (pi < pages.length) {
        val p = pages(pi)
        if (rowsSeen % p.factor == 0) {
          if (p.rowsInBand == tileSize) flushBand(p, tileSize)
          val base = p.rowsInBand * p.w
          if (p.factor == 1) System.arraycopy(src, off, p.band, base, width)
          else {
            var k = 0
            while (k < p.w) { p.band(base + k) = src(off + k * p.factor); k += 1 }
          }
          p.rowsInBand += 1
        }
        pi += 1
      }
      rowsSeen += 1
    }

    /** Flush remaining bands, lay out and write the file; returns total
      * bytes written. The encoder is single-use. */
    def finish(): Long = {
      val height = rowsSeen
      require(height > 0, "no rows fed to RowEncoder")
      val kept = pages.filter(p => p.factor == 1 || height / p.factor >= 1)
      kept.foreach { p =>
        val valid = if (p.factor == 1) height else height / p.factor
        val remaining = valid - p.bandsFlushed * tileSize
        if (remaining < 0 || remaining > p.rowsInBand) throw new IllegalStateException(
          s"RowEncoder row accounting drift: factor=${p.factor} valid=$valid " +
            s"flushed=${p.bandsFlushed} inBand=${p.rowsInBand}")
        if (remaining > 0) flushBand(p, remaining)
      }
      val pageDims: IndexedSeq[(Int, Int, Boolean)] = kept.map(p =>
        (if (p.factor == 1) height else height / p.factor, p.w, p.factor != 1))
      val pageSizes: IndexedSeq[Array[Int]] =
        kept.map(p => p.tileIds.map(spill.length).toArray)
      val pageIds: IndexedSeq[Array[Int]] = kept.map(_.tileIds.toArray)
      try writeFile(pageDims, pageSizes, pageIds)
      finally spill.close()
    }

    private def nEntries(pageIdx: Int): Int = {
      val base = 12 // 254,256,257,258,259,262,277,322,323,324,325,339
      val geo = if (pageIdx == 0)
        meta.pixelScale.size + meta.tiepoint.size + meta.epsg.size + meta.nodata.size
      else 0
      base + geo
    }

    // ---- lay out the file: header, IFD blocks (with external values), data.
    // Parameterized by container: classic = 8-byte header, 12-byte entries,
    // 4-byte offsets; BigTIFF = 16-byte header, 20-byte entries, LONG8.
    private def writeFile(pageDims: IndexedSeq[(Int, Int, Boolean)],
                          pageSizes: IndexedSeq[Array[Int]],
                          pageIds: IndexedSeq[Array[Int]]): Long = {
      def layout(big: Boolean): (Seq[Long], Seq[Long], Seq[Array[Long]], Long) = {
        val offElem = if (big) 8 else 4
        val inlineCap = if (big) 8 else 4
        val geoTagBytes = meta match {
          case GeoMeta(ps, tp, ep, nd) =>
            // GeoKeyDirectory = 4-short header + 2 keys × 4 shorts = 12 shorts
            ps.map(_ => 3 * 8).getOrElse(0) + tp.map(_ => 6 * 8).getOrElse(0) +
              ep.map(_ => 12 * 2).getOrElse(0) +
              nd.map { n =>
                val l = nodataAscii(n).length
                if (l <= inlineCap) 0 else align2(l).toInt
              }.getOrElse(0)
        }
        // per page: IFD block (count + entries + next pointer) plus external
        // arrays (tile offsets, tile counts, geo doubles/shorts/ascii)
        val ifdSizes = pageSizes.indices.map { p =>
          val n = nEntries(p)
          val overhead = if (big) 8 + 20 * n + 8 else 2 + 12 * n + 4
          val tileArr =
            if (pageSizes(p).length > 1) pageSizes(p).length.toLong * offElem * 2 else 0L
          val geo = if (p == 0) geoTagBytes.toLong else 0L
          align2(overhead) + align2(tileArr) + align2(geo)
        }
        val ifdOfs = ifdSizes.scanLeft(if (big) 16L else 8L)(_ + _)
        val tileOfs = ArrayBuffer.empty[Array[Long]]
        var cursor = ifdOfs.last
        pageSizes.foreach { sizes =>
          tileOfs += sizes.map { len => val o = cursor; cursor += align2(len); o }
        }
        (ifdSizes, ifdOfs, tileOfs.toSeq, cursor)
      }

      val big = container match {
        case "bigtiff" => true
        case "classic" => false
        // IF_SAFER: project the classic layout, upgrade only on overflow
        case "auto"    => layout(big = false)._4 > 0xffffffffL
        case c => throw new IllegalArgumentException(
          s"unsupported container '$c' (classic/bigtiff/auto)")
      }
      val (ifdSizes, ifdOfs, tileOfs, total) = layout(big)
      require(big || total <= 0xffffffffL,
        "classic TIFF caps at 4 GiB; pass container=\"bigtiff\" or \"auto\"")

      var written = 0L
      def emit(b: Array[Byte]): Unit = { os.write(b); written += b.length }

      val header = ByteBuffer.allocate(if (big) 16 else 8).order(ByteOrder.LITTLE_ENDIAN)
      header.put('I'.toByte).put('I'.toByte)
      if (big) header.putShort(43).putShort(8).putShort(0).putLong(ifdOfs.head)
      else header.putShort(42).putInt(ifdOfs.head.toInt)
      emit(header.array())

      val stride = if (big) 20 else 12
      val countSize = if (big) 8 else 2
      val inlineCap = if (big) 8 else 4
      val offType = if (big) 16 else 4 // LONG8 vs LONG for tile offsets/counts

      pageSizes.indices.foreach { p =>
        val (h, w, reduced) = pageDims(p)
        val sizes = pageSizes(p)
        val n = nEntries(p)
        // one page's IFD block assembled in memory; offsets stay absolute,
        // writes are relative to the block base so the file itself streams
        val base = ifdOfs(p)
        val pb = ByteBuffer.allocate(ifdSizes(p).toInt).order(ByteOrder.LITTLE_ENDIAN)
        def putShortAt(abs: Long, v: Short): Unit = { pb.putShort((abs - base).toInt, v); () }
        def putIntAt(abs: Long, v: Int): Unit = { pb.putInt((abs - base).toInt, v); () }
        def putLongAt(abs: Long, v: Long): Unit = { pb.putLong((abs - base).toInt, v); () }
        def putDoubleAt(abs: Long, v: Double): Unit = { pb.putDouble((abs - base).toInt, v); () }
        def putOffAt(abs: Long, v: Long): Unit = if (big) putLongAt(abs, v) else putIntAt(abs, v.toInt)

        var ext = base + align2(countSize + stride * n + (if (big) 8 else 4))
        val entries = ArrayBuffer.empty[(Int, Int, Int, Long)] // tag, typ, count, value

        entries += ((254, 4, 1, if (reduced) 1L else 0L))
        entries += ((256, 4, 1, w.toLong))
        entries += ((257, 4, 1, h.toLong))
        entries += ((258, 3, 1, bits.toLong))
        entries += ((259, 3, 1, compressionTag))
        entries += ((262, 3, 1, 1L))  // BlackIsZero
        entries += ((277, 3, 1, 1L))
        entries += ((322, 3, 1, tileSize.toLong))
        entries += ((323, 3, 1, tileSize.toLong))
        if (sizes.length == 1) {
          entries += ((324, offType, 1, tileOfs(p)(0)))
          entries += ((325, offType, 1, sizes(0).toLong))
        } else {
          entries += ((324, offType, sizes.length, ext))
          var a = ext
          tileOfs(p).foreach { o => putOffAt(a, o); a += (if (big) 8 else 4) }
          ext += align2(sizes.length * (if (big) 8 else 4))
          entries += ((325, offType, sizes.length, ext))
          a = ext
          sizes.foreach { len => putOffAt(a, len.toLong); a += (if (big) 8 else 4) }
          ext += align2(sizes.length * (if (big) 8 else 4))
        }
        entries += ((339, 3, 1, sampleFormat))
        if (p == 0) {
          meta.pixelScale.foreach { case (sx, sy) =>
            entries += ((33550, 12, 3, ext))
            putDoubleAt(ext, sx); putDoubleAt(ext + 8, sy); putDoubleAt(ext + 16, 0.0)
            ext += 24
          }
          meta.tiepoint.foreach { case (mx, my) =>
            entries += ((33922, 12, 6, ext))
            Seq(0.0, 0.0, 0.0, mx, my, 0.0).zipWithIndex.foreach { case (d, i) =>
              putDoubleAt(ext + 8 * i, d)
            }
            ext += 48
          }
          meta.epsg.foreach { code =>
            // minimal GeoKeyDirectory: header + GTModelType + CS-type key
            val geographic = code >= 4000 && code < 5000
            val keys: Array[Int] = Array(
              1, 1, 0, 2,
              1024, 0, 1, if (geographic) 2 else 1,
              if (geographic) 2048 else 3072, 0, 1, code)
            entries += ((34735, 3, keys.length, ext))
            keys.zipWithIndex.foreach { case (k, i) => putShortAt(ext + 2 * i, k.toShort) }
            ext += align2(keys.length * 2)
          }
          meta.nodata.foreach { nd =>
            val s = nodataAscii(nd)
            entries += ((42113, 2, s.length, if (s.length <= inlineCap) inlineAscii(s) else ext))
            if (s.length > inlineCap) {
              s.zipWithIndex.foreach { case (ch, i) => pb.put((ext - base).toInt + i, ch.toByte) }
              ext += align2(s.length)
            }
          }
        }

        // write the IFD itself (entries sorted by tag, per spec)
        val sorted = entries.sortBy(_._1)
        if (big) putLongAt(base, sorted.length.toLong)
        else putShortAt(base, sorted.length.toShort)
        sorted.zipWithIndex.foreach { case ((tag, typ, count, value), i) =>
          val e = base + countSize + stride * i
          putShortAt(e, tag.toShort)
          putShortAt(e + 2, typ.toShort)
          if (big) putLongAt(e + 4, count.toLong) else putIntAt(e + 4, count)
          // inline values are left-justified in the value field (LE: low bytes)
          val v = e + (if (big) 12 else 8)
          if (typ == 3 && count == 1) putShortAt(v, value.toShort)
          else if (big) putLongAt(v, value)
          else putIntAt(v, value.toInt)
        }
        val next = if (p + 1 < pageSizes.length) ifdOfs(p + 1) else 0L
        putOffAt(base + countSize + stride * sorted.length, next)
        emit(pb.array())
      }

      // tile payloads in file order, 2-byte aligned (matching the layout pass)
      val pad = Array[Byte](0)
      pageIds.indices.foreach { p =>
        tileOfs(p).indices.foreach { i =>
          val t = spill.read(pageIds(p)(i))
          if (written != tileOfs(p)(i)) throw new IllegalStateException(
            s"GeoTIFF layout drift at page $p tile $i: $written != ${tileOfs(p)(i)}")
          emit(t)
          if (t.length % 2 != 0) emit(pad)
        }
      }
      if (written != total)
        throw new IllegalStateException(s"GeoTIFF layout drift at EOF: $written != $total")
      written
    }
  }

  private def nodataAscii(nd: Double): String = {
    val s = if (nd == nd.toLong.toDouble) nd.toLong.toString else nd.toString
    s + " "
  }

  private def inlineAscii(s: String): Long = {
    var v = 0L
    s.zipWithIndex.foreach { case (ch, i) => v |= (ch.toLong & 0xff) << (8 * i) }
    v
  }

  private def align2(n: Int): Long = if (n % 2 == 0) n.toLong else n + 1L
  private def align2(n: Long): Long = if (n % 2 == 0) n else n + 1

  private def deflate(data: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
