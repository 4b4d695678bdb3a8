"""JVM-native PME integration: runs tests/native_pme_driver.py in a fresh
process (the kms jar must be on the classpath at JVM launch) and checks
every interop assertion passed."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EXPECTED = [
    "OK native_roundtrip",
    "OK memory_only_no_spill",
    "OK ciphertext_opaque",
    "OK authz_denied",
    "OK least_privilege_projection",
    "OK conf_restored",
    "OK datapage_v2_zstd",
    "OK interop_arrow_to_jvm",
    "OK partitioned_encrypted_pruning",
    "OK lazy_conf_scoped",
    "OK interop_jvm_to_arrow",
    "OK native_key_rotation",
    "OK native_gcm_tamper_detection",
    "OK external_key_material_roundtrip",
    "OK external_sidecar_withheld_fails_closed",
    "OK external_master_key_rotation",
    "OK gcm_ctr_roundtrip",
    "OK gcm_ctr_interop_both_ways",
    "OK gcm_ctr_tamper_semantics",
    "OK uniform_encryption",
    "OK complete_column_encryption",
    "OK kms_outage_masked_by_warm_cache",
    "OK kms_outage_cold_scan_fails_attributably",
    "OK kms_outage_arrow_scan_fails_attributably",
    "OK kms_outage_session_survives",
    "OK unpersist_releases_all",
    "OK concurrent_encrypted_and_plain_io",
    "OK token_redacted_from_plans",
    "OK pin_independence",
    "OK q49f_native_grouped_overlap",
]


def test_native_pme_end_to_end():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tests", "native_pme_driver.py"), REPO],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    for line in EXPECTED:
        assert line in proc.stdout, f"missing {line!r}; got:\n{proc.stdout}"
