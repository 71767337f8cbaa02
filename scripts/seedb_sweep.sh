#!/usr/bin/env bash
# Second-seed fixture-overfit sweep (SEEDB.md, automated round 10):
# perturb the sf0.01 fixture with SeedShift (key bijections per FK
# domain, +11-day time shift, row-order shuffle), flatten to the
# single-file layout check.py reads, run the full Verify, and compare
# every oracle query in DuckDB. Run BEFORE the driver's sweep each
# round so fixture-overfit bugs die in-round.
#
# Usage: scripts/seedb_sweep.sh [sfdir] [workdir]
set -euo pipefail
cd "$(dirname "$0")/.."

SFDIR="${1:-/root/testdata/sf0.01}"
WORK="${2:-target/seedB}"
FLAT="${WORK}_flat"
OUT="${WORK}_verify"

echo "[seedb] 1/4 SeedShift $SFDIR -> $WORK"
sbt -batch "runMain graft.SeedShift $SFDIR $WORK" > "$WORK.shift.log" 2>&1 \
  || { tail -20 "$WORK.shift.log"; exit 1; }

echo "[seedb] 2/4 flatten -> $FLAT"
python3 - "$WORK" "$FLAT" <<'EOF'
import sys, os
import pyarrow.parquet as pq
work, flat = sys.argv[1], sys.argv[2]
os.makedirs(flat, exist_ok=True)
for t in ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']:
    pq.write_table(pq.read_table(f'{work}/{t}.parquet'),
                   f'{flat}/{t}.parquet')
EOF

echo "[seedb] 3/4 Verify $FLAT -> $OUT"
sbt -batch "runMain graft.Verify $FLAT $OUT" > "$WORK.verify.log" 2>&1 \
  || { tail -20 "$WORK.verify.log"; exit 1; }
grep '\[verify\]' "$WORK.verify.log" || true

echo "[seedb] 4/4 check.py"
python3 scripts/check.py "$OUT" "$FLAT"
