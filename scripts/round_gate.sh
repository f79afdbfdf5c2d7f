#!/usr/bin/env bash
# End-of-round gate (VERDICT r2 #4): no snapshot commit without a fully
# green test suite AND a parsed bench JSON. Round 2 shipped an unexecuted
# rewrite in its final commit, losing the round's only perf measurement —
# this makes that structurally impossible.
#
# Usage: bash scripts/round_gate.sh   (from the repo root)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== gate 1/2: pytest =="
python -m pytest tests/ -q

echo "== gate 2/2: bench =="
# bench prints several JSON lines (EXTRA, headline, compact stream,
# compact extra-top); feed ALL stdout to the selector and pick by
# metric name — no tail budget to outgrow (ADVICE r12 #3: a hard-coded
# tail -5 would crash with an opaque unpacking error the moment bench
# gained a line).
out=$(python bench.py 2>/dev/null)
echo "$out" | python -c "
import json, sys
lines = []
for l in sys.stdin:
    if not l.strip():
        continue
    try:
        lines.append(json.loads(l))
    except json.JSONDecodeError:
        pass  # non-JSON diagnostics never block the gate
(j,) = [d for d in lines if d.get('metric') == 'headline_queries_total_wallclock']
stream = [d for d in lines if d.get('metric') == 'stream_queries_wallclock']
assert stream and stream[0]['queries'], 'compact stream line missing'
assert j['unit'] == 'sec' and j['queries'], 'bench JSON missing timings'
# Per-query 2x-of-baseline assertion: bands.json's baseline_r1_sec (the
# round-1 sf0.1 table) is the single source of the baselines. They were
# recorded under the r1 cold min-of-2 protocol; the bench runs warm
# min-of-3, which only makes timings FASTER, so this 2x check is
# conservative-or-equal relative to '2x of a warm baseline' — a
# regression that trips it is real.
BASELINE = json.load(open('bands.json'))['baseline_r1_sec']
assert len(BASELINE) >= 14, f'only {len(BASELINE)} baselines in bands.json'
weak = {q: (t, BASELINE[q]) for q, t in j['queries'].items()
        if q in BASELINE and t > 2 * BASELINE[q]}
assert not weak, f'queries over 2x baseline: {weak}'
# Bands adjudication (VERDICT r14 #4): bench.py computes effective band
# = band * max(1, total/12) from bands.json and emits per-row pass/fail;
# the gate surfaces breaches loudly. Breaches WARN rather than fail —
# the bands carry session-factor semantics and adjudicate regressions
# across rounds (BASELINE.md r14); the hard per-round gate stays the 2x
# baseline check above.
(bands,) = [d for d in lines if d.get('metric') == 'bands_adjudication']
if bands.get('skipped'):
    print(f'bands: {bands[\"skipped\"]}')
else:
    assert 'rows' in bands, f'bands adjudication missing/broken: {bands}'
    assert bands['rows'], 'bands adjudication matched zero timed rows'
    assert not bands.get('unmatched'), (
        f'bands.json names not timed this run (typo/rename?): {bands[\"unmatched\"]}')
    for name, row in bands['rows'].items():
        if not row['pass']:
            print(f'BAND BREACH: {name} {row[\"sec\"]}s > effective {row[\"effective\"]}s'
                  f' (band {row[\"band\"]}, session factor {bands[\"session_factor\"]})')
    print(f'bands: {sum(r[\"pass\"] for r in bands[\"rows\"].values())}/{len(bands[\"rows\"])} pass'
          f' (factor {bands[\"session_factor\"]})')
print(f'bench OK: total {j[\"value\"]}s over {len(j[\"queries\"])} queries at sf={j[\"sf\"]}')
"
echo "GATE PASSED"
