#!/bin/bash
# Per-round proof-artifact suite, mechanized (the round ritual that was
# previously hand-driven in tmux — r14's "mechanize the remaining
# hand-run judgments"). Runs the standing checks in dependency order,
# writes the round-numbered artifacts the judge reads, and finishes with
# ONE round manifest (step → artifact → pass/fail → wall → tree hash) so
# the judge and driver read a single file to know which proofs ran on
# which tree.
#
# Usage:
#   tools/round_proofs.sh <round> [--changed a,b,c] [--approx x,y] \
#       [--rotate N] \
#       [--steps data,sweep,inv1,inv10,f1000,margin,determinism,ledger,cluster,aqe]
#
#   <round>    round number, used in artifact names (tools/*_r{N}.json)
#   --changed  catalog entries changed since the previous round: they are
#              re-swept at sf1 (stale prior-round signals must not carry).
#              DEFAULT (r16): DERIVED mechanically from the git diff vs
#              the previous round snapshot via tools/changed_entries.py —
#              an empty list is a computed fact, never a builder claim;
#              the file→entry attribution lands in the manifest.
#   --approx   approximate-by-contract entries among them (a sweep hash
#              miss downgrades to the planted invariant in the ledger).
#              Defaults to the standing five (see APPROX_KNOWN below).
#   --rotate   re-mint the N OLDEST carried sf1 hash signals alongside the
#              changed set (default 40; 0 disables) so every entry's ≥sf1
#              signal stays at most a few rounds old — four rounds of
#              carry would let a partition-count-sensitive regression
#              hide until someone happened to re-run (r15 verdict #5)
#   --steps    subset to run (default: all, in the order above; an extra
#              non-default `drift` step runs the standalone bench drift
#              control against the previous round's tree and commits its
#              artifact for the end-of-round bench to REUSE)
#
# Prereqs: compiled classes (sbt compile), driver testdata at
# /root/testdata/sf0.1. Scaled corpora are generated if missing.
# Each step is independently restartable; artifacts are only written on
# step success. Drive long runs from tmux, not a tool with a timeout.
set -uo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: round_proofs.sh <round> [--changed ...] [--approx ...] [--rotate N] [--steps ...]}"
shift
CHANGED="__derive__"
APPROX=""
ROTATE=40
STEPS="data,sweep,inv1,inv10,f1000,margin,determinism,ledger,cluster,aqe"
# the entries whose sf1 output diverges from the exact oracle BY
# CONTRACT (approximate operators: LSH banding, sign-LSH embedding
# candidates, k-means refinement, delta-peeled fixpoints) — their sweep
# hash-miss downgrades to the planted invariant; everything else's is real
APPROX_KNOWN="dedup_embedding,dedup_minhash_sized,embedding_clusters,graph_kcore,graph_mass_flow"
# entries whose SPARK side is exact but whose DuckDB ORACLE is an
# all-pairs quadratic (the strict cluster oracle joins every embedding
# pair above 0.4 cosine before the recursive CC) — feasible at sf0.01
# (driver-checked every round) but >75 min of DuckDB CPU at sf1 without
# completing (r16, killed twice). Their ≥sf1 signal is the planted
# restricted_eq invariant, which ScaleInvariants re-proves per round.
SF1_ORACLE_INFEASIBLE="embedding_clusters_strict"
while [[ $# -gt 0 ]]; do
  case "$1" in
    --changed) CHANGED="$2"; shift 2 ;;
    --approx)  APPROX="$2"; shift 2 ;;
    --rotate)  ROTATE="$2"; shift 2 ;;
    --steps)   STEPS="$2"; shift 2 ;;
    *) echo "unknown arg: $1" >&2; exit 2 ;;
  esac
done
[[ -z "$APPROX" ]] && APPROX="$APPROX_KNOWN"

BASE=/root/testdata/sf0.1
SF1=/tmp/graft_sf1
SF10=/tmp/graft_sf10
F1000=/tmp/graft_f1000
FAIL=0
# append across invocations: the suite is restartable per step, so a
# round often runs as several --steps subsets — the manifest must cover
# the union (the final python dedups by step name, last record wins)
MANIFEST=/tmp/round_manifest_r$ROUND.jsonl
touch "$MANIFEST"
has_step() { [[ ",$STEPS," == *",$1,"* ]]; }
note() { echo "[round-proofs] $*"; }
step_rc() { # step_rc <name> <rc> [artifact]: record, keep going
  local wall=$(( $(date +%s) - STEP_T0 ))
  # per-step tree provenance (r15 ADVICE): steps of one round often run
  # in several invocations on DIFFERENT trees (the drift step runs
  # pre-commit); stamping the tree once at manifest-write time silently
  # misattributed them — record it at step completion instead
  local tree=$(git rev-parse 'HEAD^{tree}' 2>/dev/null | cut -c1-12)
  local dirty=false
  [[ -n "$(git status --porcelain 2>/dev/null)" ]] && dirty=true
  echo "{\"step\": \"$1\", \"rc\": $2, \"wall_sec\": $wall, \"artifact\": \"${3:-}\", \"tree\": \"$tree\", \"dirty\": $dirty}" >> "$MANIFEST"
  if [[ "$2" -ne 0 ]]; then note "STEP $1 FAILED (rc=$2)"; FAIL=1; else note "step $1 ok (${wall}s)"; fi
}
step_t0() { STEP_T0=$(date +%s); }

# disk pre-flight (r15 verdict #6): the f1000 graph attempts and the
# first inv1 run died mid-write in disk-exhaustion windows, and one
# ENOSPC death contaminated a concurrent lane — refuse WITH the numbers
# instead. Requirements are the measured r15 figures (SCALE.md §r15).
need_gb() { # need_gb <requiredGB> <step>
  local avail
  avail=$(df -BG --output=avail /tmp | tail -1 | tr -dc '0-9')
  note "$2: requires ~${1}GB free scratch on /tmp volume, ${avail}GB available"
  if [[ "$avail" -lt "$1" ]]; then
    note "$2 REFUSED: insufficient disk (${avail}GB < ${1}GB)"
    return 1
  fi
  return 0
}

# corpus-complete markers: gate on the COMMITTER'S SUCCESS MARKER of the
# last table each generator mode writes (r15 ADVICE: Spark creates the
# output directory at job start, so a -d test read a generation killed
# mid-write of the gating table as complete forever)
full_corpus_ok()  { [[ -f $1/embeddings.parquet/_SUCCESS ]]; }
facts_corpus_ok() { [[ -f $1/events.parquet/_SUCCESS && ! -d $1/documents.parquet ]]; }

# ------------------------------------------------------------------
# --changed derivation (r15 verdict #4): computed from the git diff vs
# the previous round snapshot, never declared. The map artifact records
# which files the round touched and which entries that mapped to; it is
# merged into the manifest so "nothing changed" is auditable.
CHANGED_MAP=/tmp/changed_map_r$ROUND.json
if [[ "$CHANGED" == "__derive__" ]]; then
  step_t0
  CHANGED=$(python3 tools/changed_entries.py --prev auto --out "$CHANGED_MAP")
  rc=$?
  n_changed=0; [[ -n "$CHANGED" ]] && n_changed=$(tr ',' '\n' <<<"$CHANGED" | wc -l)
  note "derived --changed: $n_changed entries ($(python3 -c "
import json,sys
try: d=json.load(open('$CHANGED_MAP')); print(len(d['touched_files']),'touched files')
except Exception: print('no map')"))"
  step_rc changed_map $rc "$CHANGED_MAP"
fi

# sf1 hash rotation (r15 verdict #5): re-mint the N oldest carried
# signals each round so no entry's ≥sf1 hash outlives ~5 rounds
ROTATION=""
if [[ "$ROTATE" -gt 0 && -f tools/sf1_signal_r$((ROUND-1)).json ]]; then
  ROTATION=$(python3 tools/pick_rotation.py tools/sf1_signal_r$((ROUND-1)).json \
    "$ROTATE" --skip "$CHANGED,$APPROX")
  note "rotation: re-minting $(tr ',' '\n' <<<"$ROTATION" | grep -c . ) oldest sf1 signals"
fi
SWEEP_SET=$(python3 -c "
s=set(x for x in ('$CHANGED'.split(',')+'$ROTATION'.split(',')) if x)
print(','.join(sorted(s)))")

if has_step data; then
  step_t0
  rc=0
  full_corpus_ok $SF1  || { need_gb 15 "data(sf1)" && \
    tools/run_main.sh graft.ScaleData "$BASE" $SF1 10; } || rc=1
  full_corpus_ok $SF10 || { need_gb 25 "data(sf10)" && \
    SPARK_DRIVER_MEM=32g tools/run_main.sh graft.ScaleData "$BASE" $SF10 100; } || rc=1
  [[ $rc -eq 0 ]] && { python3 tools/flatten_parquet.py $SF1 ${SF1}_flat || rc=1; }
  step_rc data $rc
fi

if has_step sweep; then
  step_t0
  if [[ -n "$SWEEP_SET" ]]; then
    # restartable: skip the Spark dump if every sweep entry already has
    # output from a previous invocation of THIS round's sweep (the
    # check phase is the restart-prone half — r16: one infeasible
    # oracle cost an hour before being killed)
    rc=0
    missing=$(python3 -c "
import os
names='$SWEEP_SET'.split(',')
out='/tmp/vsf1_r$ROUND'
print(sum(1 for n in names if not os.path.isdir(f'{out}/{n}')))")
    if [[ "$missing" -gt 0 ]]; then
      SPARK_GRAFT_SHUFFLE_PARTITIONS=64 \
        tools/run_main.sh graft.Verify $SF1 /tmp/vsf1_r$ROUND "$SWEEP_SET"
      rc=$?
    else
      note "sweep: all $(tr ',' '\n' <<<"$SWEEP_SET" | grep -c .) entry dumps present, skipping Verify rerun"
    fi
    if [[ $rc -eq 0 ]]; then
      # approx-by-contract oracles are ALL-PAIRS joins (exact cosine /
      # jaccard verify) — infeasible in DuckDB at sf1 (embedding_clusters'
      # ~70k x 70k cosine join ran >1h before being killed, r16). Their
      # sf1 signal is the planted invariant BY DESIGN (the ledger
      # discards their hash result either way), so drop them from the
      # check phase instead of burning hours on a discarded answer.
      #
      # resume (same restartability contract as the Verify skip above):
      # entries already PASSed by an interrupted check of THIS round's
      # dumps keep their result — dumps and flat oracle data unchanged —
      # and are merged back into the final log with the summary
      # recomputed; the raw logs are kept side by side.
      PRIOR=/tmp/sf1_check_r$ROUND.prior
      if [[ -s /tmp/sf1_check_r$ROUND.log ]] && \
         ! grep -qE '^[0-9]+ passed, [0-9]+ failed$' /tmp/sf1_check_r$ROUND.log; then
        cp /tmp/sf1_check_r$ROUND.log "$PRIOR"
        note "sweep: resuming — $(grep -c '^PASS ' "$PRIOR") already-passed entries kept from interrupted check"
      fi
      python3 - /tmp/vsf1_r$ROUND "$APPROX" "$PRIOR" "$SF1_ORACLE_INFEASIBLE" <<'EOF'
import json, os, re, sys
p = f"{sys.argv[1]}/oracle_sql.json"
o = json.load(open(p))
dropped = [n for n in sys.argv[2].split(",") if o.pop(n, None) is not None]
infeasible = [n for n in sys.argv[4].split(",") if o.pop(n, None) is not None]
if os.path.exists(sys.argv[3]):
    passed = re.findall(r"^PASS (\S+)", open(sys.argv[3]).read(), re.M)
    resumed = [n for n in passed if o.pop(n, None) is not None]
    print(f"[round-proofs] sweep: {len(resumed)} entries resumed from prior check")
json.dump(o, open(p, "w"), indent=0)
print(f"[round-proofs] sweep: {len(dropped)} approx oracles skip the sf1 check: {','.join(dropped)}")
if infeasible:
    print(f"[round-proofs] sweep: {len(infeasible)} sf1-infeasible oracles skip the check "
          f"(planted invariant covers them): {','.join(infeasible)}")
EOF
      python3 tools/check.py ${SF1}_flat /tmp/vsf1_r$ROUND \
        | tee /tmp/sf1_check_r$ROUND.new
      crc=${PIPESTATUS[0]}
      python3 - /tmp/sf1_check_r$ROUND <<'EOF'
import os, re, sys
base = sys.argv[1]
new = open(base + ".new").read()
lines = [l for l in new.splitlines()
         if re.match(r"^(PASS|FAIL|ordered-FAIL)", l)]
if os.path.exists(base + ".prior"):
    lines = [l for l in open(base + ".prior").read().splitlines()
             if l.startswith("PASS ")] + lines
# the summary line is only written when check.py itself completed —
# crash detection downstream depends on its absence
out = "\n".join(lines)
if re.search(r"^[0-9]+ passed, [0-9]+ failed$", new, re.M):
    n_pass = sum(1 for l in lines if l.startswith("PASS "))
    out += f"\n\n{n_pass} passed, {len(lines) - n_pass} failed\n"
open(base + ".log", "w").write(out)
EOF
      # completion is detected by the summary line, NOT check.py's exit
      # code (r15 ADVICE: check.py exits 1 whenever n_fail>0 — including
      # the approx-by-contract entries EXPECTED to hash-miss — which
      # skipped the approx-tolerant loop below and falsely failed the
      # step); a missing summary line means the checker itself crashed
      if grep -qE '^[0-9]+ passed, [0-9]+ failed$' /tmp/sf1_check_r$ROUND.log; then
        rc=0
      else
        note "sweep: check.py produced no summary line (crashed?), rc=$crc"
        rc=1
      fi
    fi
    if [[ $rc -eq 0 ]]; then
      # approx-by-contract entries are EXPECTED to hash-miss here; the
      # ledger downgrades them — any other FAIL is real and fails the step
      while read -r line; do
        # real tags: "FAIL name: ..." and "ordered-FAIL/sorted-PASS name: ..."
        name=$(sed -E 's|^(ordered-FAIL/sorted-PASS\|FAIL) ([^ :]+).*|\2|' <<<"$line")
        [[ ",$APPROX," == *",$name,"* ]] || { note "sweep FAIL: $line"; rc=1; }
      done < <(grep -E '^(ordered-FAIL/sorted-PASS|FAIL) ' /tmp/sf1_check_r$ROUND.log)
    fi
    step_rc sweep $rc /tmp/sf1_check_r$ROUND.log
  else
    note "sweep skipped: derived change set and rotation are both empty"
    : > /tmp/sf1_check_r$ROUND.log
    step_rc sweep 0 /tmp/sf1_check_r$ROUND.log
  fi
fi

if has_step inv1; then
  step_t0
  SPARK_GRAFT_SHUFFLE_PARTITIONS=64 tools/run_main.sh graft.ScaleInvariants \
    "$BASE" $SF1 tools/scale_invariants_sf1_r$ROUND.json
  step_rc inv1 $? tools/scale_invariants_sf1_r$ROUND.json
fi

if has_step inv10; then
  step_t0
  rc=1
  need_gb 20 "inv10" && {
    SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE_PARTITIONS=128 \
      tools/run_main.sh graft.ScaleInvariants \
      "$BASE" $SF10 tools/scale_invariants_sf10_r$ROUND.json
    rc=$?
  }
  step_rc inv10 $rc tools/scale_invariants_sf10_r$ROUND.json
fi

if has_step f1000; then
  step_t0
  rc=0
  # generation writes a ~13GB corpus through ~20GB of shuffle scratch;
  # the facts-rep invariant pass peaks around 25GB of concurrent spill
  # (measured r15 — the GRAPH entries needing 40-60GB/entry stay excluded
  # with the three-way-measured refusal recorded in the artifact)
  facts_corpus_ok $F1000 || { need_gb 40 "f1000(gen)" && \
    SPARK_DRIVER_MEM=48g SPARK_GRAFT_SHUFFLE_PARTITIONS=64 \
    SPARK_GRAFT_JAVA_OPTS="-Xlog:gc:file=/tmp/f1000_gc.log:time,uptime" \
    tools/run_main.sh graft.ScaleData --facts-only "$BASE" $F1000 1000; } || rc=1
  if [[ $rc -eq 0 ]]; then
    rc=1
    # graphs stay OUT of the single-host factor-1000 run: four measured
    # attempts (three in r15 at 38-50GB free, one in r16 at 62GB free)
    # died on task-level aborts — the 1.2B-row directed graph needs
    # 40-60GB scratch PER entry, i.e. a real cluster's aggregate disk.
    # The refusal and its evidence live in the r15/r16 artifacts; the
    # fact families below hold exact laws at x1000 (the r15 25-check
    # merged tranche, re-runnable as one invocation via the names arg).
    F1000_NAMES="anti_join_inactive,asof_join_enrich,bollinger,broadcast_enrich,click_attribution,dau_wau_stickiness,dedup_keep_first,etl_pipeline,event_transitions,first_last_day,hopping_candles,join_agg_revenue,limit_offset_page,mad_stats,month_histogram,ohlcv_daily,point_lookup,price_parse,pricing_summary_q1,semi_join_active,sessionization,skew_planted_hot,star_join_q5,table_stats,tick_compression"
    need_gb 30 "f1000(invariants)" && {
      SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
        tools/run_main.sh graft.ScaleInvariants --facts-rep \
        "$BASE" $F1000 tools/scale_invariants_f1000_r$ROUND.json "$F1000_NAMES"
      rc=$?
    }
  fi
  step_rc f1000 $rc tools/scale_invariants_f1000_r$ROUND.json
fi

if has_step margin; then
  step_t0
  rc=0
  : > /tmp/minhash_margin_r$ROUND.jsonl
  for sf in /root/testdata/sf0.01 "$BASE" $SF1 $SF10; do
    SPARK_DRIVER_MEM=24g SPARK_GRAFT_SHUFFLE_PARTITIONS=128 \
      tools/run_main.sh graft.MinhashSizingSmoke "$sf" 200 \
      | grep -E '^\{' >> /tmp/minhash_margin_r$ROUND.jsonl || rc=1
  done
  python3 - "$ROUND" <<'EOF' || rc=1
import json, math, sys
r = sys.argv[1]
rows = [json.loads(l) for l in open(f"/tmp/minhash_margin_r{r}.jsonl")]
ok = all(x["theta995_margin_ok"] for x in rows) and len(rows) >= 4

def fit(ys):  # least-squares slope of ln(y) vs ln(n_docs)
    xs = [math.log(x["n_docs"]) for x in rows]
    ys = [math.log(max(y, 1e-9)) for y in ys]
    mx, my = sum(xs)/len(xs), sum(ys)/len(ys)
    return round(sum((a-mx)*(b-my) for a, b in zip(xs, ys)) /
                 sum((a-mx)**2 for a in xs), 3)

exponents = {}
for cfg in ("sized", "pinned"):
    exponents[cfg] = {
        "secs": fit([x[cfg]["secs"] for x in rows]),
        "cand_instances": fit([x[cfg]["occupancy"]["cand_instances"] for x in rows]),
        "verified_pairs": fit([x[cfg]["pairs"] for x in rows]),
        "max_occupancy_all_sfs": max(x[cfg]["occupancy"]["max_c"] for x in rows),
    }
out = {"purpose": "theta=0.995 margin behind dedup_minhash_sized, measured per SF "
       "(max non-identical jaccard via the exact uncapped prefix join at 0.9); "
       "sized-vs-pinned banding recall at each corpus size; and per-band bucket "
       "occupancy with fitted log-log exponents vs corpus size (r14 verdict #3)",
       "margin_ok_all_sfs": ok, "exponents": exponents, "runs": rows}
json.dump(out, open(f"tools/minhash_margin_r{r}.json", "w"), indent=1)
print(f"[round-proofs] margin: {len(rows)} SFs, all_ok={ok}, exponents={exponents}")
sys.exit(0 if ok else 1)
EOF
  step_rc margin $rc tools/minhash_margin_r$ROUND.json
fi

if has_step determinism; then
  # r15 verdict #3: the "whitelist = 4, bad = 0" claim must be a
  # per-round execution, not a carried r14 artifact — the audit's
  # whitelist rows now cite DriftBounds certificates, and this proves
  # the cited state holds on THIS round's tree
  step_t0
  SPARK_GRAFT_CPUS=16 tools/run_main.sh graft.DeterminismAudit \
    tools/determinism_audit_r$ROUND.json /root/testdata/sf0.01,/root/testdata/sf0.1
  step_rc determinism $? tools/determinism_audit_r$ROUND.json
fi

if has_step ledger; then
  step_t0
  PREV=$((ROUND - 1))
  ls /tmp/vsf1_r$ROUND > /tmp/catalog_names_r$ROUND.txt 2>/dev/null
  # the sweep out-dir only holds CHANGED entries; the catalog list needs
  # all of them — take names from the freshest full verify dir instead
  if [[ -d /tmp/vout ]]; then ls /tmp/vout > /tmp/catalog_names_r$ROUND.txt; fi
  python3 tools/sf1_signal.py --round $ROUND \
    --catalog /tmp/catalog_names_r$ROUND.txt \
    --prev-ledger tools/sf1_signal_r$PREV.json \
    --check /tmp/sf1_check_r$ROUND.log \
    --invariants tools/scale_invariants_sf1_r$ROUND.json \
    --changed "$CHANGED" --approx "$APPROX" \
    --out tools/sf1_signal_r$ROUND.json
  step_rc ledger $? tools/sf1_signal_r$ROUND.json
fi

if has_step cluster; then
  step_t0
  SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' \
    tools/run_main.sh graft.Verify /root/testdata/sf0.01 /tmp/vcluster_r$ROUND
  rc=$?
  if [[ $rc -eq 0 ]]; then
    python3 tools/check.py /root/testdata/sf0.01 /tmp/vcluster_r$ROUND \
      | tee /tmp/cluster_check_r$ROUND.log | tail -3
    rc=${PIPESTATUS[0]}
  fi
  if [[ $rc -eq 0 ]]; then
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
      tools/run_main.sh graft.ClusterChecks | tee /tmp/cluster_checks_r$ROUND.log
    rc=${PIPESTATUS[0]}
  fi
  step_rc cluster $rc /tmp/cluster_check_r$ROUND.log
fi

if has_step aqe; then
  step_t0
  tools/run_main.sh graft.PlanFingerprints --aqe-check "$BASE"
  step_rc aqe $? tools/plan_fingerprints_aqe.json
fi

if has_step drift; then
  # writes DIRECTLY to the committed path: the end-of-round bench reuses
  # this artifact (matched by src/main subtree hashes) instead of
  # re-probing a host the full catalog just hammered (r16 BenchDrift)
  step_t0
  tools/run_main.sh graft.BenchDrift "$BASE" | tail -1 > tools/bench_drift_r$ROUND.json
  rc=${PIPESTATUS[0]}
  grep -q '"code_factor"' tools/bench_drift_r$ROUND.json || rc=1
  step_rc drift $rc tools/bench_drift_r$ROUND.json
fi

# merge the changed-entries map into the manifest inputs so the judge
# reads WHICH files the round touched and which entries that mapped to
if [[ -f "$CHANGED_MAP" ]]; then
  python3 - "$CHANGED_MAP" "$MANIFEST" <<'EOF'
import json, sys
m = json.load(open(sys.argv[1]))
rec = {"step": "changed_map_detail", "rc": 0, "wall_sec": 0,
       "artifact": sys.argv[1],
       "touched_files": m["touched_files"],
       "entries_by_file": {k.split("/")[-1]: v for k, v in m["entries_by_file"].items()},
       "n_entries": len(m["entries"])}
open(sys.argv[2], "a").write(json.dumps(rec) + "\n")
EOF
fi

# round manifest: one file naming the tree every proof ran on. Steps
# carry their OWN tree stamp (recorded at step completion, r15 ADVICE);
# the top level records the final tree plus whether the round's steps
# ran on mixed trees — a restartable suite legitimately spans trees, but
# the artifact must say so instead of stamping everything with the last.
python3 - "$ROUND" "$MANIFEST" "$FAIL" <<'EOF'
import json, subprocess, sys
rnd, manifest, fail = sys.argv[1], sys.argv[2], int(sys.argv[3])
by_step = {}
for l in open(manifest):
    rec = json.loads(l)
    by_step[rec["step"]] = rec  # last record per step wins
steps = list(by_step.values())
fail = max(fail, max((r["rc"] != 0 for r in steps), default=0))
step_trees = sorted(set(r["tree"] for r in steps if r.get("tree")))
out = {
    "round": int(rnd),
    "head": subprocess.check_output(["git", "rev-parse", "HEAD"]).decode().strip(),
    "tree": subprocess.check_output(["git", "rev-parse", "HEAD^{tree}"]).decode().strip(),
    "dirty": bool(subprocess.check_output(["git", "status", "--porcelain"]).decode().strip()),
    "fail": fail,
    "step_trees": step_trees,
    "mixed_trees": len(step_trees) > 1,
    "steps": steps,
}
path = f"tools/round_manifest_r{rnd}.json"
json.dump(out, open(path, "w"), indent=1)
print(f"[round-proofs] manifest: {path}" +
      (f" (MIXED TREES: {step_trees})" if out["mixed_trees"] else ""))
EOF

note "suite complete: FAIL=$FAIL (artifacts: tools/*_r$ROUND.json)"
exit $FAIL
