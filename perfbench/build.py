"""Build file of the benchmark: compiles the engine's main sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/perfbench/perfbench.jar, with the Scala compiler that ships
in the Spark jars directory the engine compiles against (build.sbt's
`unmanagedBase`). No sbt, no dependency resolution, nothing written
outside .bench_build.

It then runs the tiny graph workload once with -XX:ArchiveClassesAtExit
to dump a class-data-sharing archive of the ~10k classes a run loads;
later JVMs map it instead of reading the classes from 300 jars, which
halves JVM + Spark session start. A failed dump only costs that speed.

A stamp of every source's path and contents makes a rebuild happen only
when a source changed.

Usage: python3 perfbench/build.py      (prints the jar's path)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
JAR = OUT / "perfbench.jar"
CDS = OUT / "perfbench.jsa"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark jars the engine compiles against: build.sbt's
    `unmanagedBase`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if not m:
        raise OSError("build.sbt sets no unmanagedBase")
    return Path(m.group(1))


def java_main(work, args, cds_flag=None):
    """The java command line running graft.perfbench.Main with `args`,
    every temporary file under `work`.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if cds_flag is None:
        cds_flag = f"-XX:SharedArchiveFile={CDS}" if CDS.exists() else ""
    # -Xmx is a cap only: the heap starts small and G1 grows it while the
    # program's allocation keeps its collections busy, so peak RSS follows
    # the program's demand; at these sizes G1 stops short of the cap
    cmd = ["java", "-Xmx4g", "-XX:G1HeapRegionSize=32m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if cds_flag:
        cmd.append(cds_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}{os.pathsep}{spark_jars()}/*",
                  "graft.perfbench.Main", "--work", work] + args


def java_env():
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    env.pop("GRAFT_CONF", None)
    return env


def sources():
    missing = [str(d) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise OSError(f"no sources at {missing}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def compile_jar(srcs):
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={OUT}", "-cp", f"{spark_jars()}/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                    "-classpath", f"{spark_jars()}/*", f"@{argfile}"],
                   check=True, stdout=sys.stderr, timeout=800)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*.class")):
            z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def dump_cds():
    work = str(OUT / "cds-work")
    print("perfbench: dumping the class-data-sharing archive", file=sys.stderr)
    try:
        subprocess.run(java_main(work, [
            "--workload", "graph_3d_k500", "--seed", "0", "--seconds", "0",
            "--trace", "1", "--tiny"], f"-XX:ArchiveClassesAtExit={CDS}"),
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            env=java_env(), timeout=300)
    except subprocess.SubprocessError as e:
        print(f"perfbench: no archive ({e}); runs start slower",
              file=sys.stderr)
        CDS.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)


def ensure():
    """Build the jar (and its archive) unless the sources are unchanged."""
    srcs = sources()
    stamp = hashlib.sha256()
    for p in srcs:
        stamp.update(str(p.relative_to(ROOT)).encode())
        stamp.update(p.read_bytes())
    stamp_file = OUT / "build.stamp"
    if JAR.exists() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp.hexdigest():
        return JAR
    OUT.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    CDS.unlink(missing_ok=True)
    compile_jar(srcs)
    dump_cds()
    stamp_file.write_text(stamp.hexdigest())
    return JAR


if __name__ == "__main__":
    print(ensure())
