#!/bin/bash
# Reference-equivalence check: run OUR generator + KPI pipeline, then run the
# REFERENCE's calcular_kpi.py (read-only checkout at $REFERENCE_DIR, default
# a `reference/` directory beside this repository) on the same JSONL, and
# diff the two KPI CSVs cell-by-cell. Proves the core query semantics
# (normalization, lenient casts, buckets, avg, exact p90, half-even 2dp
# rounding, sort order) match the reference implementation exactly.
#
# Exit codes: 0 identical, 1 mismatch, 77 reference checkout absent
# (nothing was built or compared).
set -euo pipefail
REF=${REFERENCE_DIR:-$(cd "$(dirname "$0")/../.." && pwd)/reference}
if [ ! -f "$REF/src/calcular_kpi.py" ]; then
  echo "SKIPPED: reference not present ($REF/src/calcular_kpi.py), skipped" >&2
  exit 77
fi
WORK=$(mktemp -d /tmp/graft_refcmp.XXXX)
N=${1:-2000}
sbt "runMain graft.cli.GenerarDatos --n_registros $N --seed 42 --salida $WORK/datos" \
    "runMain graft.cli.CalcularKpi --input $WORK/datos --output $WORK/kpi_spark" \
    > /dev/null
python3 "$REF/src/calcular_kpi.py" \
  --input "$WORK"/datos/part-*.json --output "$WORK/out/kpi_ref.csv"
python3 - "$WORK" << 'EOF'
import sys, glob
import pandas as pd
work = sys.argv[1]
ref = pd.read_csv(f'{work}/out/kpi_ref.csv')
spark = pd.read_csv(glob.glob(f'{work}/kpi_spark/part-*.csv')[0])
assert list(ref.columns) == list(spark.columns), (list(ref.columns), list(spark.columns))
assert len(ref) == len(spark), (len(ref), len(spark))
bad = [(c, i, x, y)
       for c in ref.columns
       for i, (x, y) in enumerate(zip(ref[c], spark[c])) if x != y]
for c, i, x, y in bad[:10]:
    print(f'MISMATCH col={c} row={i}: ref={x!r} spark={y!r}')
print('IDENTICAL: reference and Spark KPI CSVs match cell-for-cell'
      f' ({len(ref)} groups)' if not bad else f'{len(bad)} mismatches')
sys.exit(1 if bad else 0)
EOF
