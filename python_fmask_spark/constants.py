"""Global constants for the PySpark-native fmask engine.

Values transcribed from the reference implementation (ubarsc/python-fmask):
thresholds from ``fmask/config.py:90-103``, histogram/scale constants from
``fmask/fmask.py:224-234,564-565,847``, output codes from
``fmask/fmask.py:82-93``.
"""

# ---- Output codes (fmask/fmask.py:82-93) ----
OUTCODE_NULL = 0
OUTCODE_CLEAR = 1
OUTCODE_CLOUD = 2
OUTCODE_SHADOW = 3
OUTCODE_SNOW = 4
OUTCODE_WATER = 5

# ---- Histogram / scaling constants (fmask/fmask.py:224-234,564-565) ----
BT_OFFSET = 176
BT_HISTSIZE = 256
BYTE_MIN = 0
BYTE_MAX = 255
B4_SCALE = 500.0
PROB_SCALE = 100.0
CLOUD_HEIGHT_SCALE = 10  # fmask/fmask.py:847
METRES_PER_KM = 1000.0  # fmask/fmask.py:954

# ---- Algorithm thresholds (fmask/config.py:90-103) ----
EQN1_SWIR2_THRESH = 0.03
EQN1_THERM_THRESH = 27.0
EQN2_WHITENESS_THRESH = 0.7
CIRRUS_BAND_TEST_THRESH = 0.01
EQN7_SWIR2_THRESH = 0.03
EQN20_THERM_THRESH = 3.8
EQN20_NIR_SNOW_THRESH = 0.11
EQN20_GREEN_SNOW_THRESH = 0.1
CIRRUS_PROB_RATIO = 0.04
EQN19_NIR_FILL_THRESH = 0.02
EQN17_CLOUD_PROB_THRESH = 0.2

# ---- Buffer defaults ----
# The reference defaults are 5 / 10 px (fmask/config.py:77-78) but they are
# CLI-configurable there (fmask/cmdline/usgsLandsatStacked.py:262-263); we
# default smaller because our synthetic per-cell rasters are narrow.
CLOUD_BUFFER_SIZE = 2
SHADOW_BUFFER_SIZE = 3
MIN_CLOUD_SIZE_PIXELS = 0

LAPSE_RATE_WET = 6.5  # degrees/km, fmask/fmask.py:938
KELVIN_ZERO_DEGC = 273.15

# ---- Synthetic-scene geometry (engine-specific; FIXTURES.md §2) ----
# Every H3-style cell is one fmask "scene": a raster of fixed width
# SCENE_WIDTH whose pixels are the cell's documents laid out row-major
# in url order (deterministic across engines and partitionings).
SCENE_WIDTH = 8
# Tile height for the distributed kernel path (a cell's raster is split
# into TILE_SIZE-row horizontal bands distributed across executors,
# mirroring the reference's 512x512 RIOS windows, fmask/fmask.py:234).
# Sizing: halo duplication is 2*radius/TILE_SIZE of all exchanged rows
# (the fused cloud-mask pass has radius 1 + CLOUD_BUFFER_SIZE = 3 -> 5%
# at 128 vs 19% at 32), and the per-group pandas overhead amortizes over
# TILE_SIZE*SCENE_WIDTH pixels; 128 keeps a 10M-row cell at ~1000
# independent tasks.
TILE_SIZE = 128
# Grid resolution for the pseudo-H3 cell index (degrees per cell).
CELL_DEG = 30.0
# Ground pixel size in metres (Landsat-like); yRes negative = north-up.
X_RES = 30.0
Y_RES = -30.0

# ---- Reflectance / thermal calibration (synthetic scene_config) ----
# DN scaling ref = (dn + offset) / scale  (fmask/fmask.py:502-543)
TOA_SCALE = 10000.0
# Thermal: rad = dn*gain + offset; T = K2/ln(K1/rad + 1) - 273.15
# (fmask/config.py:507-521; K1/K2 are Landsat-7 ETM+ values).
THERMAL_GAIN = 0.01
THERMAL_OFFSET = 0.0
THERMAL_K1 = 666.09
THERMAL_K2 = 1282.71

# Null convention: DN value 0 == nodata (fmask/fmask.py:276-284).
REF_NULL_DN = 0
THERM_NULL_DN = 0
