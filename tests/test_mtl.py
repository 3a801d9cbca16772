from __future__ import annotations

import pytest

from python_fmask_spark.mtl import read_mtl_text, thermal_info_from_mtl

SAMPLE = """
GROUP = L1_METADATA_FILE
  SPACECRAFT_ID = "LANDSAT_7"
  ACQUISITION_DATE = 2002-05-14
  SCENE_CENTER_SCAN_TIME = 10:20:30Z
  RADIANCE_MULT_BAND_6_VCID_1 = 0.067087
  RADIANCE_ADD_BAND_6_VCID_1 = -0.06709
  K1_CONSTANT_BAND_6_VCID_1 = 666.09
  K2_CONSTANT_BAND_6_VCID_1 = 1282.71
END_GROUP = L1_METADATA_FILE
"""

LEGACY = 'SPACECRAFT_ID = "Landsat5"\nACQUISITION_DATE = 1999-01-02\n'

# Oldest-format MTL: only LMIN/LMAX/QCAL ranges, no K1/K2
# (fmask/config.py:576-585 derivation; L7 uses the BAND61 keys)
OLDEST_L7 = """
SPACECRAFT_ID = "LANDSAT_7"
SENSOR_ID = "ETM+"
LMAX_BAND61 = 17.04
LMIN_BAND61 = 0.0
QCALMAX_BAND61 = 255.0
QCALMIN_BAND61 = 1.0
"""

OLDEST_L5 = """
SPACECRAFT_ID = "LANDSAT_5"
SENSOR_ID = "TM"
LMAX_BAND6 = 15.303
LMIN_BAND6 = 1.238
QCALMAX_BAND6 = 255.0
QCALMIN_BAND6 = 1.0
"""


def test_mtl_parse_and_aliases():
    d = read_mtl_text(SAMPLE)
    assert d["SPACECRAFT_ID"] == "LANDSAT_7"
    assert d["DATE_ACQUIRED"] == "2002-05-14"  # legacy alias
    assert d["SCENE_CENTER_TIME"] == "10:20:30Z"
    t = thermal_info_from_mtl(d)  # band resolved to 6_VCID_1 for L7
    assert t.k1 == 666.09 and t.k2 == 1282.71
    assert t.gain == 0.067087


def test_mtl_legacy_spacecraft_normalization():
    d = read_mtl_text(LEGACY)
    assert d["SPACECRAFT_ID"] == "LANDSAT_5"


def test_oldest_format_gain_offset_derivation_l7():
    """Oldest-format fallback (fmask/config.py:576-585): gain/offset from
    the LMIN/LMAX/QCAL ranges, K1/K2 from the published ETM+ constants."""
    t = thermal_info_from_mtl(read_mtl_text(OLDEST_L7))
    gain = (17.04 - 0.0) / (255.0 - 1.0)
    assert t.gain == pytest.approx(gain)
    assert t.offset == pytest.approx(0.0 - 1.0 * gain)
    assert t.k1 == 666.09 and t.k2 == 1282.71


def test_oldest_format_gain_offset_derivation_l5():
    t = thermal_info_from_mtl(read_mtl_text(OLDEST_L5))
    gain = (15.303 - 1.238) / (255.0 - 1.0)
    assert t.gain == pytest.approx(gain)
    assert t.offset == pytest.approx(1.238 - 1.0 * gain)
    assert t.k1 == 607.76 and t.k2 == 1260.56  # TM published constants


def test_missing_spacecraft_raises():
    with pytest.raises(KeyError):
        thermal_info_from_mtl({})
