/*
 * Hadoop's local filesystem without the per-call shell commands.
 *
 * Without libhadoop, Hadoop 3.4's RawLocalFileSystem forks `chmod` for every
 * setPermission (every directory mkdirs makes, every file created with a
 * permission, and under ChecksumFileSystem its .crc file too) and `readlink`
 * for every getFileLinkStatus (FileContext.rename calls it on source,
 * destination and parent), each ~4 ms of process-tree CPU on a 4-vCPU host.
 * These classes run both calls in the JVM through java.nio and otherwise
 * inherit the stock behaviour:
 *
 *   ForkFreeLocalFileSystem      fs.file.impl (a LocalFileSystem: .crc files
 *                                are still written and verified)
 *   ForkFreeLocalFileSystem.Raw  the RawLocalFileSystem beneath it
 *   ForkFreeLocalFileSystem.Fs   fs.AbstractFileSystem.file.impl (a ChecksumFs,
 *                                for FileContext, as in stock LocalFs)
 *   ForkFreeLocalFileSystem.RawFs  the DelegateToFileSystem beneath that,
 *                                with stock RawLocalFs's three overrides
 *
 * Build: python tools/build_local_fs_jar.py
 */
package bdps.hadoop;

import java.io.File;
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
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

public class ForkFreeLocalFileSystem extends LocalFileSystem {

  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {

    /**
     * The nine rwx bits through Files.setPosixFilePermissions, which follows
     * links as chmod does. A mode with the sticky, setuid or setgid bit goes
     * to the stock method, which forks chmod.
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // the enum is declared in mode-bit order, OWNER_READ (0400) first
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission perm : PosixFilePermission.values()) {
        if ((mode & (0400 >> perm.ordinal())) != 0) {
          perms.add(perm);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /**
     * Stock FileUtil.readLink runs `readlink` on new File(f.toString()) and
     * takes any failure as "" (not a link). The same string is read here in
     * the JVM; "" returns getFileStatus(f), which is what the stock method
     * returns for a non-link. A real link goes to the stock method.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target;
      try {
        target = Files.readSymbolicLink(new File(f.toString()).toPath()).toString().trim();
      } catch (Exception e) {
        target = "";
      }
      return target.isEmpty() ? getFileStatus(f) : super.getFileLinkStatus(f);
    }
  }

  public static class Fs extends ChecksumFs {
    public Fs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(FsConstants.LOCAL_FS_URI, conf));
    }
  }

  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
      super(theUri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
}
