#!/usr/bin/env bash
# One-command cross-scale parity sweep (VERDICT r16 item 4).
#
# Runs graft.Verify (every registered query -> parquet dump + the
# oracle_sql.json + manifest.json), then tools/parity.py (the DuckDB
# oracle mirror) over the dump, and exits with parity.py's status.
# This is the diagnostic that caught three latent cross-engine
# rounding-tie bug classes in round 16 — tie bugs need a specific row
# value to fire, so they hide below the driver's sf0.01 gate; run this
# at sf0.1 (and any perturbed fixture) once per round and record the
# result in SCALE.md.
#
# Crash-loudness (ADVICE r17 medium): a Spark-side query throw can NOT
# make the sweep pass — (a) a non-zero sbt exit aborts here, (b) any
# "[verify] <q> failed" line in the log aborts here, and (c) Verify's
# manifest.json makes parity.py fail on failed/missing keys even if
# this script's greps were bypassed.
#
# Usage: bash tools/parity_sweep.sh [sfDir] [outDir] [keyRegex]
#   sfDir    default /root/testdata/sf0.1
#   outDir   default /tmp/graft-parity-<basename sfDir>
#   keyRegex optional anchored regex restricting the swept queries
#            (local iteration only — a restricted sweep is not a round
#            certification)
set -euo pipefail
SF=${1:-/root/testdata/sf0.1}
OUT=${2:-/tmp/graft-parity-$(basename "$SF")}
REGEX=${3:-}
cd "$(dirname "$0")/.."
rm -rf "$OUT"
LOG="$OUT.verify.log"
if ! sbt -batch "runMain graft.Verify $SF $OUT $REGEX" >"$LOG" 2>&1; then
  echo "parity_sweep: graft.Verify sbt run FAILED — last 50 log lines:"
  tail -50 "$LOG"
  exit 1
fi
grep -E '\[verify\]|\[success\]' "$LOG" || true
if grep -qE '\[verify\] .* failed' "$LOG"; then
  echo "parity_sweep: Spark-side query failures above — sweep is RED"
  exit 1
fi
python3 tools/parity.py "$SF" "$OUT"

# Success ledger (VERDICT r17 item 6): record a green full sweep in
# PARITY_SWEEPS.jsonl keyed by a fingerprint of the CODE state it ran
# against (index blobs + unstaged diff + untracked status over src/main
# + tools — commit-invariant, so committing identical code keeps the
# entry valid). A code state is certified by green entries for sf0.01,
# sf0.1, and at least one alternate-seed dir. Restricted (keyRegex)
# sweeps are NOT recorded — they are not a certification.
if [ -z "$REGEX" ]; then
  FP=$( { git ls-files -s -- src/main tools
          git diff -- src/main tools
          git status --porcelain -- src/main tools; } | sha1sum | cut -c1-16)
  # Ledger counts come from parity.py's own verdict file (ADVICE r18):
  # a value-mismatch sweep records its true red count even if a future
  # edit decouples this append from parity.py's exit status. The seed
  # field carries the Perturb manifest's seed for alternate-seed dirs
  # (null = a standard fixture, not a perturbed draw).
  GREEN=$(python3 - "$SF" "$OUT" <<'PYEOF'
import json, os, sys
sf, out = sys.argv[1], sys.argv[2]
summ = json.load(open(f"{out}/parity_summary.json"))
seed = "null"
mp = f"{sf}/perturb_manifest.json"
if os.path.exists(mp):
    seed = json.dumps(json.load(open(mp)).get("seed", ""))
print(summ["green"], summ["total"], seed)
PYEOF
)
  read -r NG NT SEED <<<"$GREEN"
  echo "{\"ts\": $(date +%s), \"sf\": \"$SF\", \"green\": $NG, \"total\": $NT, \"seed\": $SEED, \"src_fp\": \"$FP\"}" >> PARITY_SWEEPS.jsonl
  echo "parity_sweep: recorded green $NG/$NT (seed=$SEED) for src_fp=$FP in PARITY_SWEEPS.jsonl"
fi
