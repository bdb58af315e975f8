#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/scala) with the Scala compiler that ships
among the Spark jars the repo builds against, into .bench_build/perfbench.
It then dumps the DuckDB oracle SQL of the interactive queries and runs
it once over the fixtures, so results can be checked against it.

Both steps are skipped when their inputs are unchanged. Run from the repo
root:  python3 perfbench/build.py
"""
import glob
import hashlib
import json
import os
import re
import subprocess
import sys

WORK = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(WORK, "classes")
ORACLES = os.path.join(WORK, "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCALE = "sf0.01"

# JDK 17 module opens Spark needs outside spark-submit (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def _read(path):
    with open(path) as f:
        return f.read()


def spark_jars():
    """The jar directory build.sbt compiles and runs against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _read("build.sbt"))
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt")
    return m.group(1)


def fixtures():
    """The sf0.01 fixture directory: beside the scale the repo's own
    bench defaults to."""
    src = _read(os.path.join("src", "main", "scala", "graft", "Bench.scala"))
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src)
    if not m:
        raise SystemExit("perfbench: no fixture default in graft.Bench")
    return os.path.join(os.path.dirname(m.group(1)), SCALE)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def java(main, args, heap="3g"):
    """argv for running `main` on the benchmark classpath."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.abspath(os.path.join(WORK, "tmp"))
    return (["java"] + opens +
            ["-Xmx" + heap, "-Xss8m", "-Djava.io.tmpdir=" + tmp,
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath(), main] + list(args))


def _sources():
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob("perfbench/scala/*.scala"))


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_classes():
    srcs = _sources()
    if not any(p.startswith("src/") for p in srcs):
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    stamp_file = os.path.join(WORK, "classes.stamp")
    stamp = _stamp(srcs, spark_jars())
    if os.path.exists(stamp_file) and _read(stamp_file) == stamp:
        return False
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    sql_file = os.path.join(WORK, "oracle_sql.json")
    if os.path.exists(sql_file):
        os.remove(sql_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def oracle_results():
    """Run each interactive query's DuckDB oracle once; the results are
    written as parquet and fingerprinted by the benchmark before timing."""
    sql_file = os.path.join(WORK, "oracle_sql.json")
    done = os.path.join(ORACLES, "done.stamp")
    if not os.path.exists(sql_file):
        subprocess.run(java("graftbench.PerfBench",
                            ["--dump-oracles", sql_file], heap="1g"),
                       check=True, stdout=sys.stderr)
    sqls = json.loads(_read(sql_file))
    stamp = _stamp([sql_file], fixtures())
    if os.path.exists(done) and _read(done) == stamp:
        return False
    import duckdb
    os.makedirs(ORACLES, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixtures()}/{t}.parquet')")
    for key, sql in sorted(sqls.items()):
        out = os.path.join(ORACLES, key + ".parquet")
        body = sql.strip().rstrip(";")
        con.execute(f"COPY ({body}) TO '{out}' (FORMAT PARQUET)")
    con.close()
    with open(done, "w") as f:
        f.write(stamp)
    return True


def build():
    """Bring the build up to date; True when anything had to be rebuilt."""
    os.makedirs(WORK, exist_ok=True)
    compiled = compile_classes()
    return oracle_results() or compiled


if __name__ == "__main__":
    build()
