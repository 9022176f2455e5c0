package graft.fs

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFileAttributeView, PosixFilePermission, UserPrincipal}
import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem without fork+exec.
  *
  * This environment ships no native-hadoop library, so Hadoop's
  * `RawLocalFileSystem` falls back to SHELLING OUT for the two hottest
  * metadata operations of a snapshot-table engine on `file://`:
  *
  *  - `FileSystem.create(path)` applies the default permission via
  *    `setPermission` → fork+exec of `chmod` — once per written file
  *    (every parquet part file, every .crc sidecar, every manifest
  *    chunk, root, ref and marker);
  *  - `listFiles`/`LocatedFileStatus` materialize permissions via
  *    `DeprecatedRawLocalFileStatus.loadPermissionInfo` → fork+exec of
  *    `ls -ld` — once PER LISTED FILE.
  *
  * Measured with the round-17 JobProfile driver sampler: 3.2 s of a
  * 12.5 s q_snapshot_merge_mor run sat in `Shell.runCommand` under one
  * recursive listing of a 672-file table (~4.8 ms per fork), with more
  * under every staged write and chunk write. At 100 TB none of this
  * exists (HDFS/S3 answer metadata over RPC; clusters ship native
  * libs) — this class brings the local driver-contract environment to
  * the same no-fork behavior WITHOUT changing semantics: permissions
  * are really read (POSIX attribute syscalls) and really set
  * (`PosixFileAttributeView.setPermissions`), not faked.
  *
  * Wired by [[graft.Engine.configure]] (`fs.file.impl` on the
  * context's hadoopConfiguration, evicting any pre-wiring cached
  * instance). The checksum wrapper is preserved, so on-disk layout
  * (.crc sidecars included) is byte-identical to the default
  * LocalFileSystem. */
class FastLocalFileSystem
  extends LocalFileSystem(new FastRawLocalFileSystem)

class FastRawLocalFileSystem extends RawLocalFileSystem {

  private val StatAttributes =
    "unix:size,isDirectory,lastModifiedTime,lastAccessTime,mode,owner,group"

  private def nioPerms(p: FsPermission)
      : java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val m = p.toShort.toInt
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    if ((m & 0x100) != 0) s.add(OWNER_READ)
    if ((m & 0x80) != 0) s.add(OWNER_WRITE)
    if ((m & 0x40) != 0) s.add(OWNER_EXECUTE)
    if ((m & 0x20) != 0) s.add(GROUP_READ)
    if ((m & 0x10) != 0) s.add(GROUP_WRITE)
    if ((m & 0x8) != 0) s.add(GROUP_EXECUTE)
    if ((m & 0x4) != 0) s.add(OTHERS_READ)
    if ((m & 0x2) != 0) s.add(OTHERS_WRITE)
    if ((m & 0x1) != 0) s.add(OTHERS_EXECUTE)
    s
  }

  /** Real chmod through one syscall instead of a forked `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    // PosixFilePermission cannot express sticky/setuid/setgid: those
    // requests go through the parent's chmod path, which applies the
    // full mode, instead of silently masking to 0x1ff here
    if ((permission.toShort & ~0x1ff) != 0) {
      super.setPermission(p, permission)
      return
    }
    val view = Files.getFileAttributeView(pathToFile(p).toPath,
      classOf[PosixFileAttributeView])
    if (view == null) super.setPermission(p, permission) // non-POSIX store
    else try view.setPermissions(nioPerms(permission))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
    }
  }

  /** Eager status from one `stat` (a single `unix:` readAttributes
    * call) — permissions and owner/group included, so no later access
    * can trigger the deprecated lazy `ls -ld` exec. The permission is
    * built from the raw `st_mode` bits, as the stock `stat`-based status
    * does, so the sticky bit survives (a PosixFilePermission set cannot
    * carry sticky, setuid or setgid). */
  private def statusOf(f: Path): FileStatus = {
    val a = Files.readAttributes(pathToFile(f).toPath, StatAttributes)
    def time(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
    new FileStatus(a.get("size").asInstanceOf[java.lang.Long],
      a.get("isDirectory").asInstanceOf[java.lang.Boolean], 1,
      getDefaultBlockSize(f), time("lastModifiedTime"),
      time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Integer] & 0xfff)
        .toShort),
      a.get("owner").asInstanceOf[UserPrincipal].getName,
      a.get("group").asInstanceOf[GroupPrincipal].getName, null,
      makeQualified(f))
  }

  override def getFileStatus(f: Path): FileStatus =
    try statusOf(f)
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
      case _: UnsupportedOperationException => super.getFileStatus(f)
    }

  override def listStatus(f: Path): Array[FileStatus] = {
    val dir = pathToFile(f)
    if (!dir.exists())
      throw new FileNotFoundException(s"File $f does not exist")
    if (dir.isFile) return Array(getFileStatus(f))
    val names = dir.list()
    if (names == null)
      throw new java.io.IOException(s"cannot list $f")
    val out = Array.newBuilder[FileStatus]
    java.util.Arrays.sort(names.asInstanceOf[Array[Object]])
    names.foreach { n =>
      try out += statusOf(new Path(f, n))
      catch {
        case _: NoSuchFileException => () // vanished mid-listing: skip
        case _: UnsupportedOperationException =>
          out += super.getFileStatus(new Path(f, n))
      }
    }
    out.result()
  }
}
