#!/bin/sh
# Pre-snapshot / pre-commit gate: the tree must COMPILE (main + test)
# before any snapshot is taken. Round 4 shipped a snapshot where
# Dedup.scala referenced a deleted function -- the driver's bench and
# correctness runs both died at `sbt compile`, zeroing the round's
# entire signal. This gate is the one-line insurance against that class
# of loss; it deliberately runs only Test/compile (fast, ~10 s warm),
# not the full suite -- correctness belongs to tools/check.py.
#
# `gate.sh --sf1 [query ...]` runs the sf1 scale-regression gate instead
# (tools/scale_gate.py): correctness at 10x the bench SF plus a per-query
# linearity budget (sf1 time <= 15x sf0.1 time). Slow (~15 min full
# battery; seconds-to-minutes for a named query subset) -- run it after
# touching any operator's partitioning/cell/cap constants, not per-commit.
set -e
cd "$(dirname "$0")/.."
if [ "$1" = "--sf1" ]; then
  shift
  exec python3 tools/scale_gate.py "$@"
fi
# Backlogs, configs and payloads are UTF-8, and the platform's default
# charset need not be (JVMs that sbt forks can run with US-ASCII, which
# turns every non-ASCII byte into U+FFFD). Fail on a file reader or writer
# in src/main/scala built without an explicit charset.
implicit_charset=$(grep -rnE 'new ([a-z.]*\.)?(FileReader|FileWriter)\(|Source\.fromFile\(' src/main/scala \
  | grep -vE 'StandardCharsets|Charset|Codec|"UTF-8"' || true)
if [ -n "$implicit_charset" ]; then
  echo "gate: file reader/writer without an explicit charset:"
  echo "$implicit_charset"
  exit 1
fi
# Operators and queries overlap builds through graft.util.Overlap, which
# tags the helper's jobs and cancels them when either side throws; a
# hand-rolled pool or thread there would orphan its jobs on failure.
raw_threads=$(grep -rnE 'Executors\.new|new Thread\(' \
  src/main/scala/graft/operators src/main/scala/graft/queries || true)
if [ -n "$raw_threads" ]; then
  echo "gate: thread or pool outside graft.util.Overlap:"
  echo "$raw_threads"
  exit 1
fi
# No code path starts a process: a fork per checkpoint file once dominated
# the service's checkpoint commits (streaming/LocalCheckpointFileManager.scala).
# Fail on a process started from src/main/scala.
process_starts=$(grep -rnE 'ProcessBuilder|sys\.process|Runtime\.getRuntime(\(\))?\.exec|Shell\.(exec|execCommand)\b|ShellCommandExecutor' \
  src/main/scala || true)
if [ -n "$process_starts" ]; then
  echo "gate: process started from src/main/scala:"
  echo "$process_starts"
  exit 1
fi
# Every main builds its session through graft.Session, the one place that
# sets master, shuffle partitions, time zone, UI and log level. Fail on a
# SparkSession.builder anywhere else in src/main/scala.
builders=$(grep -rn 'SparkSession\.builder' src/main/scala | grep -v '^src/main/scala/graft/Session\.scala:' || true)
if [ -n "$builders" ]; then
  echo "gate: SparkSession.builder outside graft/Session.scala:"
  echo "$builders"
  exit 1
fi
# Every parquet read goes through graft.queries.Tables.parquet, which
# gives the scan the schema of one footer read on the driver; a bare
# spark.read.parquet infers it with a Spark job per read (about 85 ms of
# fixed cost on every corpus table read). Fail on a parquet read in
# src/main/scala outside queries/Tables.scala.
parquet_reads=$(grep -rnE 'read\.(parquet\(|format\("parquet"\))' src/main/scala \
  | grep -v '^src/main/scala/graft/queries/Tables\.scala:' || true)
if [ -n "$parquet_reads" ]; then
  echo "gate: parquet read outside graft/queries/Tables.scala:"
  echo "$parquet_reads"
  exit 1
fi
# Streaming operators read batch vs stream from their input's isStreaming
# (one query runs both ways); a Boolean switch that callers must set to
# match their input could disagree with it. Fail on a defaulted Boolean
# parameter in src/main/scala/graft/streaming.
bool_switches=$(grep -rnE '\b[A-Za-z_][A-Za-z0-9_]*\s*:\s*Boolean\s*=' src/main/scala/graft/streaming \
  | grep -vE '\b(def|val|var)\s+[A-Za-z_][A-Za-z0-9_]*\s*:\s*Boolean' || true)
if [ -n "$bool_switches" ]; then
  echo "gate: defaulted Boolean parameter in src/main/scala/graft/streaming:"
  echo "$bool_switches"
  exit 1
fi
# An operator builder must not change its caller's session: a conf it
# sets outlives the query it builds and changes every later query of
# that session (x118 once turned off Spark's stateful-correctness check
# this way). Fail on a session conf write in src/main/scala/graft/streaming
# or src/main/scala/graft/operators.
conf_writes=$(grep -rnF '.conf.set(' \
  src/main/scala/graft/streaming src/main/scala/graft/operators || true)
if [ -n "$conf_writes" ]; then
  echo "gate: session conf set from an operator builder:"
  echo "$conf_writes"
  exit 1
fi
# NO_CODEGEN in Spark's internal codegen factory-mode conf runs every
# projection and predicate interpreted. Only the block-sink stream sets
# it, around its own start() (NatsLikeStream.CadenceConf), where 1000-row
# epochs cost less interpreted than compiled; the batch surface runs
# generated code, which graft.CodegenPathSpec checks against eval. Fail
# on the conf anywhere in src/main/scala but that constant's pair.
factory_mode=$(grep -rnE 'spark\.sql\.codegen\.factoryMode|CODEGEN_FACTORY_MODE' src/main/scala \
  | grep -vE '^src/main/scala/graft/streaming/NatsLikeStream\.scala:[0-9]+: *"spark\.sql\.codegen\.factoryMode" -> "NO_CODEGEN"\)$' || true)
if [ -n "$factory_mode" ]; then
  echo "gate: codegen factory mode set outside NatsLikeStream.CadenceConf:"
  echo "$factory_mode"
  exit 1
fi
# Each expression in src/main/scala/graft/expressions writes its kernel
# once, as a companion-object method that eval and the generated code
# both call. A Java loop in a doGenCode string is a second copy of a
# kernel, one that only query plans run (six expressions once carried
# such a copy). Fail on `for (int` under src/main/scala/graft/expressions.
java_loops=$(grep -rnF 'for (int' src/main/scala/graft/expressions || true)
if [ -n "$java_loops" ]; then
  echo "gate: Java loop in generated code under src/main/scala/graft/expressions:"
  echo "$java_loops"
  exit 1
fi
# Operators and utilities take only what their callers vary. A defaulted
# parameter that no caller sets is a constant in disguise, and an
# Option[DataFrame] parameter that no query passes is a second code path
# that only specs run (the six ANN entry points once carried a query-set
# one). Fail on a defaulted or Option[DataFrame] parameter in
# src/main/scala/graft/operators or src/main/scala/graft/util; comment
# lines and def/val/var declarations are not parameters.
param_defaults=$(grep -rnE '\b[A-Za-z_][A-Za-z0-9_]*\s*:\s*[^=(){};]+=([^=>]|$)|Option\[DataFrame\]' \
  src/main/scala/graft/operators src/main/scala/graft/util \
  | grep -vE '^[^:]+:[0-9]+:\s*(\*|/\*|//)' \
  | grep -vE '\b(def|val|var)\s+[A-Za-z_][A-Za-z0-9_]*\s*:' || true)
if [ -n "$param_defaults" ]; then
  echo "gate: defaulted or Option[DataFrame] parameter in graft.operators/graft.util:"
  echo "$param_defaults"
  exit 1
fi
# The bounded-heap top-k (graft.functions.TopKByScore) has one DataFrame
# step, TopKByScore.ranked: the aggregate, the explode and the rank. A
# `new TopKByScore(` elsewhere is another copy of that step (seven
# operators once each wrote it out). Fail on one outside
# functions/TopKByScore.scala.
topk_sites=$(grep -rnE 'new (graft\.functions\.)?TopKByScore\(' src/main/scala \
  | grep -v '^src/main/scala/graft/functions/TopKByScore\.scala:' || true)
if [ -n "$topk_sites" ]; then
  echo "gate: TopKByScore built outside TopKByScore.ranked:"
  echo "$topk_sites"
  exit 1
fi
# The IVF probe (assignment + query probe slices of one ranking, query
# membership as an is_q flag) has one body, Similarity.ivfProbe, which
# x19, x34, x105 and x108 call (each once spelled it out). Fail on an
# is_q flag in src/main/scala outside that method.
is_q_flags=$(find src/main/scala -name '*.scala' | sort | xargs awk '
  FNR == 1 { d = "" }
  /(^|[^A-Za-z0-9_])def [A-Za-z_]/ { d = $0 }
  index($0, "withColumn(\"is_q\"") &&
    !(FILENAME ~ /graft\/operators\/Similarity\.scala$/ && d ~ /def ivfProbe\(/) {
    print FILENAME ":" FNR ":" $0
  }')
if [ -n "$is_q_flags" ]; then
  echo "gate: is_q probe flag outside Similarity.ivfProbe:"
  echo "$is_q_flags"
  exit 1
fi
# Compile (main + test), then the analysis-only smoke: resolve every
# query plan + entry() at sf0.001 (graft.Analyze -- df.schema only, no
# execution, ~30 s warm). Round 7's events/timestamp_ntz environment
# shift broke 15 queries at ANALYSIS time and nothing here noticed;
# this step turns that class of outage into a non-zero gate exit.
sbt -batch Test/compile
# The benchmark harness (perfbench/) compiles src/main/scala together with
# its own sources and calls sink/config signatures directly; compile it
# too, so a signature break fails here instead of in the benchmark build.
# Like perfbench/run.py, it needs SPARK_HOME for Spark's jars.
: "${SPARK_HOME:?gate: SPARK_HOME must point at the Spark install perfbench compiles against}"
(cd perfbench && sbt -batch compile)
sbt -batch "runMain graft.Analyze /root/testdata/sf0.001"
# Driver-scrape simulation (VERDICT r13 #2): the driver's BENCH artifact
# is json.loads of the LAST 2000 chars of RAW sbt stdout. Rounds 11-13
# each "fixed" the compact line and still recorded "parsed": null,
# because the fix was verified against the line, not the artifact: sbt's
# "[info] " prefix and "[success] Total time" footer sat inside the
# window. This step runs a minimal bench exactly as the driver does and
# asserts the tail parses — the artifact IS the acceptance test.
rm -f /tmp/gate_bench_artifact.json /tmp/gate_bench_artifact.profile.json
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
SPARK_GRAFT_BENCH_OUT=/tmp/gate_bench_artifact.json \
  sbt -batch "runMain graft.Bench r1_ingest_raw r2_subject_segments" \
  > /tmp/gate_bench_stdout.txt 2>/tmp/gate_bench_stderr.txt \
  || { echo "gate: minimal bench failed"; tail -5 /tmp/gate_bench_stderr.txt; exit 1; }
python3 - <<'EOF'
import json
tail = open("/tmp/gate_bench_stdout.txt", errors="replace").read()[-2000:]
try:
    rec = json.loads(tail)
except Exception as e:
    raise SystemExit(f"DRIVER-SCRAPE SIMULATION FAILED: json.loads(stdout[-2000:])"
                     f" -> {e}\ntail repr: {tail[-300:]!r}")
assert rec.get("queries"), rec
print("driver-scrape simulation OK:", rec["queries"])
# Bench writes a per-query profile beside its record file.
prof = json.load(open("/tmp/gate_bench_artifact.profile.json"))
for q in ("r1_ingest_raw", "r2_subject_segments"):
    assert prof["queries"].get(q, {}).get("jobs"), f"profile has no jobs for {q}"
print("bench profile OK:", {q: len(v["jobs"]) for q, v in prof["queries"].items()})
EOF
