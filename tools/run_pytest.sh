#!/usr/bin/env bash
# Run the PySpark-mirror test suite with machine-readable evidence.
#
# Writes the junit XML twice: target/test-reports/ (next to sbt's XML, for a
# driver that scans that directory) and python/test/reports/ (committed, so
# the repo itself carries the last verified run). The committed copy's
# timestamp + test count are the auditable claim; re-run this script after
# any python/ change and commit the refreshed report.
#
# Usage: tools/run_pytest.sh   (from the repo root). The tests load the jar
# under target/scala-*/, so the script first runs the incremental
# `sbt package`: after a Scala change pytest never runs against a stale jar.
set -euo pipefail
cd "$(dirname "$0")/.."
sbt -batch package
mkdir -p target/test-reports python/test/reports
python3 -m pytest python/test/test_graftspark.py -q \
  --junitxml=target/test-reports/pytest-report.xml
cp target/test-reports/pytest-report.xml python/test/reports/pytest-report.xml
python3 - <<'EOF'
import xml.etree.ElementTree as ET
r = ET.parse('python/test/reports/pytest-report.xml').getroot()
s = r.find('testsuite') if r.tag == 'testsuites' else r
print("pytest evidence:", {k: s.get(k) for k in
      ('tests', 'failures', 'errors', 'skipped', 'timestamp')})
EOF
