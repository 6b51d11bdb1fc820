"""Build step of the benchmark: compiles the program's Scala sources together
with the benchmark's own JVM side (`perfbench/scala`) into one class
directory, with the Scala compiler that ships in the Spark distribution.

The output is reused while no source file changes (a content hash is kept
next to it), so only the first run in a checkout pays for the build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark distribution's jar directory: `$SPARK_HOME/jars`, else the
    `unmanagedBase` the repository's build.sbt compiles against."""
    home = os.environ.get('SPARK_HOME')
    if home and os.path.isdir(os.path.join(home, 'jars')):
        return os.path.join(home, 'jars')
    sbt = os.path.join(root, 'build.sbt')
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit('perfbench: Spark jars not found (set SPARK_HOME)')


def sources(root):
    main = os.path.join(root, 'src', 'main', 'scala')
    found = []
    for base in (main, os.path.join(HERE, 'scala')):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith('.scala')]
    return sorted(found)


def build(root, out_root):
    """Compiles when the sources changed; returns the class directory."""
    if not os.path.isdir(os.path.join(root, 'src', 'main', 'scala', 'graft')):
        raise SystemExit('perfbench: program sources (src/main/scala/graft) not found')
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, 'rb') as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_root, 'classes')
    stamp_file = os.path.join(out_root, 'classes.sha256')
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read().strip() == stamp:
        return classes, jars
    tmp = classes + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out_root, 'scalac.args')
    with open(args_file, 'w') as f:
        f.write('\n'.join(srcs) + '\n')
    cp = os.path.join(jars, '*')
    subprocess.run(['java', '-Xss8m', '-Xmx3g', '-XX:-UsePerfData', '-cp', cp,
                    'scala.tools.nsc.Main', '-nowarn', '-d', tmp, '-classpath', cp, '@' + args_file],
                   check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, 'w') as f:
        f.write(stamp + '\n')
    return classes, jars
