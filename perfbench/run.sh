#!/usr/bin/env bash
# Build (once per checkout) and run one benchmark workload.
#
#   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
#
# Run from the checkout root. The engine and the benchmark are compiled
# by sbt (offline) into ignored build directories; the run itself is a
# plain JVM, so no sbt start-up is timed. The last stdout line is the
# result JSON.
set -euo pipefail

root="$(pwd)"
bench="$root/perfbench"
out="$root/.bench_build/perfbench"
if [[ ! -f "$root/build.sbt" || ! -d "$root/src/main/scala/graft" ]]; then
  echo "perfbench: no engine sources under $root (expected build.sbt and src/main/scala/graft)" >&2
  exit 3
fi
mkdir -p "$out/tmp"

cp_file="$bench/target/classpath.txt"
if [[ ! -f "$cp_file" ]]; then
  echo "perfbench: building engine and benchmark" >&2
  export COURSIER_MODE=offline
  # sbt's own state (global base, ivy home, locks, temp files, its boot
  # socket) goes under .bench_build too; the toolchain caches in $HOME are
  # only read. A unix socket path holds at most 108 bytes, so under a deep
  # checkout sbt cannot bind its boot socket: forcestart makes it build
  # without one instead of exiting with code 2.
  export XDG_RUNTIME_DIR="$out/tmp"
  sbt_opts=(-Dsbt.log.noformat=true -Dsbt.server.forcestart=true
    -Dsbt.server.autostart=false -Dsbt.override.build.repos=true
    -Dsbt.offline=true -Xmx3g -XX:-UsePerfData
    -Dsbt.global.base="$out/sbt-global" -Dsbt.ivy.home="$out/ivy2"
    -Dsbt.boot.lock=false -Djna.tmpdir="$out/tmp" -Djava.io.tmpdir="$out/tmp")
  if [[ -f "$HOME/.sbt/repositories" ]]; then
    sbt_opts+=(-Dsbt.repository.config="$HOME/.sbt/repositories")
  fi
  # JAVA_TOOL_OPTIONS also reaches the JVMs the sbt script starts itself
  (cd "$bench" && SBT_OPTS="${sbt_opts[*]}" JAVA_TOOL_OPTIONS=-XX:-UsePerfData \
    sbt --batch writeClasspath) >&2
fi

commit="$(git -C "$root" rev-parse HEAD 2>/dev/null || true)"
if [[ -z "$commit" ]]; then
  # not a git checkout: identify the engine sources by content
  commit="src-sha1:$(cd "$root" && find build.sbt src/main -type f | LC_ALL=C sort \
    | xargs sha1sum | sha1sum | cut -c1-12)"
fi

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

PERFBENCH_COMMIT="$commit" exec java "${opens[@]}" \
  -Xmx4g -XX:-UsePerfData \
  -Djava.io.tmpdir="$out/tmp" -Dspark.ui.enabled=false \
  -cp "$(cat "$cp_file")" graft.perfbench.Main "$@"
