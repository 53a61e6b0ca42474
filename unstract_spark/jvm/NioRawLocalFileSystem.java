package unstract_spark.jvm;

import java.io.DataOutput;
import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.io.UncheckedIOException;
import java.net.URISyntaxException;
import java.nio.file.FileSystemException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.BasicFileAttributes;
import java.nio.file.attribute.GroupPrincipal;
import java.nio.file.attribute.UserPrincipal;
import java.util.Map;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's file: store with its permission and link calls made as syscalls.
 *
 * Without libhadoop, RawLocalFileSystem forks chmod for every create and
 * mkdir, ls -ld for every permission read and readlink for every link
 * status (a FileContext rename reads several). This class makes the same
 * calls through java.nio and returns the same FileStatus fields. Checksums
 * and FileContext's rename stay Hadoop's: Local and Fs wrap it exactly as
 * LocalFileSystem and LocalFs wrap RawLocalFileSystem.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The FileSystem API (fs.file.impl). */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new NioRawLocalFileSystem());
    }

    /**
     * Refuses an existing destination file, as Hive's ProxyLocalFileSystem
     * (the file: store Spark's service loader picks when Hive is on the
     * class path) does.
     */
    @Override
    public boolean rename(Path src, Path dst) throws IOException {
      return !isFile(dst) && super.rename(src, dst);
    }
  }

  /** The FileContext API (fs.AbstractFileSystem.file.impl), as LocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(java.net.URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new Raw(conf));
    }
  }

  /** As org.apache.hadoop.fs.local.RawLocalFs, over this class. */
  static class Raw extends DelegateToFileSystem {
    Raw(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  /** One chmod(2), sticky bit included. */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
  }

  /** One stat(2); permission, owner and group are read when first asked for. */
  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    File file = pathToFile(f);
    BasicFileAttributes a;
    try {
      a = Files.readAttributes(file.toPath(), BasicFileAttributes.class);
    } catch (FileSystemException e) { // the stock store tests File.exists()
      throw new FileNotFoundException("File " + f + " does not exist");
    }
    return new Status(a, getDefaultBlockSize(f),
        new Path(file.getPath()).makeQualified(getUri(), getWorkingDirectory()));
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /**
   * The stock store's link status, with readlink(2) for the readlink command.
   * Like the stock store it reads the link at the path's string form, so a
   * scheme-qualified path never reads as a link.
   */
  private FileStatus linkStatus(Path f) throws IOException {
    String target;
    try {
      target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString();
    } catch (IOException | InvalidPathException e) {
      target = "";
    }
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) { // a dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      throw e;
    }
  }

  /**
   * Loads permission, owner and group on first read, as Hadoop's
   * DeprecatedRawLocalFileStatus does with `ls -ld`: a listing that never
   * reads them never pays for the owner and group lookups. Like the stock
   * store, which runs `ls -ld` on the canonical path, it follows links.
   */
  static class Status extends FileStatus {
    private boolean loaded;

    Status(BasicFileAttributes a, long blockSize, Path path) {
      super(a.size(), a.isDirectory(), 1, blockSize, a.lastModifiedTime().toMillis(),
          a.lastAccessTime().toMillis(), null, null, null, path);
    }

    private synchronized void load() {
      if (loaded) {
        return;
      }
      try {
        Map<String, Object> m =
            Files.readAttributes(new File(getPath().toUri()).toPath(), "unix:mode,owner,group");
        // FsPermission keeps the sticky bit and drops setuid/setgid, as FsPermission.valueOf does
        setPermission(new FsPermission((short) ((Integer) m.get("mode") & 01777)));
        setOwner(((UserPrincipal) m.get("owner")).getName());
        setGroup(((GroupPrincipal) m.get("group")).getName());
        loaded = true;
      } catch (NoSuchFileException e) {
        // removed since the stat: keep the defaults, as the stock store does
      } catch (IOException e) {
        throw new UncheckedIOException(e);
      }
    }

    @Override
    public FsPermission getPermission() {
      load();
      return super.getPermission();
    }

    @Override
    public String getOwner() {
      load();
      return super.getOwner();
    }

    @Override
    public String getGroup() {
      load();
      return super.getGroup();
    }

    @Override
    public void write(DataOutput out) throws IOException {
      load();
      super.write(out);
    }
  }
}
