package flink_net_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

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
 * Hadoop's local file system without its external processes.
 *
 * <p>Without libhadoop, RawLocalFileSystem starts a {@code chmod} process in
 * every setPermission (each file and directory it creates) and a
 * {@code readlink} process in every getFileLinkStatus (FileContext.rename asks
 * for source, target and both .crc files). {@link Raw} does these two calls
 * through java.nio; checksums, rename and umask stay Hadoop's own code.
 *
 * <p>Mount with {@code fs.file.impl=flink_net_spark.jvm.NoForkLocalFs} and
 * {@code fs.AbstractFileSystem.file.impl=flink_net_spark.jvm.NoForkLocalFs$Afs}.
 */
public class NoForkLocalFs extends LocalFileSystem {
  public NoForkLocalFs() {
    super(new Raw());
  }

  /** The FileContext side: Hadoop's LocalFs (ChecksumFs over RawLocalFs) on {@link Raw}. */
  public static class Afs extends ChecksumFs {
    public Afs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's RawLocalFs, delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  public static class Raw extends RawLocalFileSystem {
    /** Owner rwx, group rwx, others rwx: mode bits 0400 down to 0001. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int mode = (Integer) Files.getAttribute(file, "unix:mode");
      // nio cannot set a sticky bit, and `chmod 0755` keeps a directory's
      // setuid/setgid bits where nio would clear them
      if (permission.getStickyBit() || ((mode & 0170000) == 0040000 && (mode & 06000) != 0)) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((permission.toShort() & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(file, perms);
    }

    /** RawLocalFileSystem.getFileLinkStatus on its deprecatedGetFileLinkStatusInternal path. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      FileStatus fs;
      try {
        fs = getFileStatus(f);
      } catch (FileNotFoundException e) {
        if (target.isEmpty()) {
          throw e; // f does not exist
        }
        fs = null; // a dangling link
      }
      if (target.isEmpty()) {
        return fs;
      }
      FileStatus link = fs == null
          ? new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
              new Path(target), f)
          : new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
              fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
              fs.getOwner(), fs.getGroup(), new Path(target), f);
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), f, link.getSymlink()));
      return link;
    }

    /** What FileUtil.readLink gets from `readlink`: the target, or "" for anything else. */
    private static String readLink(File f) {
      try {
        java.nio.file.Path p = f.toPath();
        return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
      } catch (IOException | RuntimeException e) {
        return "";
      }
    }
  }
}
