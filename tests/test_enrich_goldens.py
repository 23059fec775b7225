"""End-to-end enrich-operator golden tests.

Each test re-expresses one scenario of the reference suite
(/root/reference/test/plugin/test_filter_geoip.rb, cited per test) over the
synthetic range DB that embeds the reference's golden values
(fluent_plugin_geoip_spark/sources/fixtures.py). Expected values are the
reference's literal expectations.
"""

import pytest
from pyspark.sql import types as T

from fluent_plugin_geoip_spark.config import GeoipConfig
from fluent_plugin_geoip_spark.operators.enrich import SKIP_FLAG, GeoipEnricher
from fluent_plugin_geoip_spark.sources.fixtures import (
    geoip2_city_db, geoip2_compat_db, geoip_legacy_db,
)

S = T.StringType()


def run(spark, config, data, schema, db=None):
    db = db or geoip2_city_db()
    enr = GeoipEnricher(spark, config, db)
    df = spark.createDataFrame(data, schema)
    out = enr.transform(df)
    return [r.asDict(recursive=True) for r in out.collect()]


def test_filter_with_dot_key(spark):  # test:169-187
    cfg = GeoipConfig(
        lookup_keys=["ip.origin", "ip.dest"],
        records={
            "origin_country": "${country.iso_code['ip.origin']}",
            "dest_country": "${country.iso_code['ip.dest']}",
        })
    schema = T.StructType([T.StructField("ip.origin", S), T.StructField("ip.dest", S)])
    out = run(spark, cfg, [("66.102.3.80", "8.8.8.8")], schema)
    assert out == [{"ip.origin": "66.102.3.80", "ip.dest": "8.8.8.8",
                    "origin_country": "US", "dest_country": "US"}]


def test_filter_with_unknown_address(spark):  # test:189-210
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={
            "geoip_city": "${city.names.en['host']}",
            "geopoint": "[${location.longitude['host']}, ${location.latitude['host']}]",
        },
        skip_adding_null_record=False)
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("203.0.113.1", "invalid ip"), ("0", "invalid ip")], schema)
    assert out == [
        {"host": "203.0.113.1", "message": "invalid ip",
         "geoip_city": None, "geopoint": [None, None]},
        {"host": "0", "message": "invalid ip",
         "geoip_city": None, "geopoint": [None, None]},
    ]


def test_filter_with_empty_string(spark):  # test:212-230 (quoted templates)
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={
            "geoip_city": "'${city.names.en[\"host\"]}'",
            "geopoint": "'[${location.longitude[\"host\"]}, ${location.latitude[\"host\"]}]'",
        })
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("", "empty string ip")], schema)
    assert out == [{"host": "", "message": "empty string ip",
                    "geoip_city": None, "geopoint": [None, None]}]


def test_filter_with_skip_unknown_address(spark):  # test:232-256
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={
            "geoip_city": "${city.names.en['host']}",
            "geopoint": "[${location.longitude['host']}, ${location.latitude['host']}]",
        },
        skip_adding_null_record=True)
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("203.0.113.1", "invalid ip"), ("0", "invalid ip"),
                           ("66.102.3.80", "google bot")], schema)
    assert out[0][SKIP_FLAG] is True and out[1][SKIP_FLAG] is True
    assert out[0]["geoip_city"] is None and out[0]["geopoint"] is None
    assert out[2] == {
        "host": "66.102.3.80", "message": "google bot",
        "geoip_city": "Mountain View",
        "geopoint": [-122.0574, 37.419200000000004],
        SKIP_FLAG: False,
    }


def test_filter_record_directive(spark):  # test:258-323 — all 3 eval modes
    cfg = GeoipConfig(
        lookup_keys=["$.from.ip"],
        records={
            "from_city": "${city.names.en['$.from.ip']}",
            "from_country": "${country.names.en['$.from.ip']}",
            "latitude": "${location.latitude['$.from.ip']}",
            "longitude": "${location.longitude['$.from.ip']}",
            "float_concat": "${location.latitude['$.from.ip']},${location.longitude['$.from.ip']}",
            "float_array": "[${location.longitude['$.from.ip']}, ${location.latitude['$.from.ip']}]",
            "float_nest": "{ \"lat\" : ${location.latitude['$.from.ip']}, \"lon\" : ${location.longitude['$.from.ip']}}",
            "string_concat": "${city.names.en['$.from.ip']},${country.names.en['$.from.ip']}",
            "string_array": "[${city.names.en['$.from.ip']}, ${country.names.en['$.from.ip']}]",
            "string_nest": "{ \"city\" : ${city.names.en['$.from.ip']}, \"country_name\" : ${country.names.en['$.from.ip']}}",
            "unknown_city": "${city.names.en['unknown_key']}",
            "undefined": "${city.names.en['undefined']}",
            "broken_array1": "[${location.longitude['$.from.ip']}, ${location.latitude['undefined']}]",
            "broken_array2": "[${location.longitude['undefined']}, ${location.latitude['undefined']}]",
        })
    schema = T.StructType([
        T.StructField("from", T.StructType([T.StructField("ip", S)])),
        T.StructField("message", S),
    ])
    out = run(spark, cfg, [(("66.102.3.80",), None), (None, "missing field")], schema)
    hit, miss = out
    assert hit["from"] == {"ip": "66.102.3.80"}
    assert hit["from_city"] == "Mountain View"
    assert hit["from_country"] == "United States"
    assert hit["latitude"] == 37.419200000000004
    assert hit["longitude"] == -122.0574
    assert hit["float_concat"] == "37.419200000000004,-122.0574"
    assert hit["float_array"] == [-122.0574, 37.419200000000004]
    assert hit["float_nest"] == {"lat": 37.419200000000004, "lon": -122.0574}
    assert hit["string_concat"] == "Mountain View,United States"
    assert hit["string_array"] == ["Mountain View", "United States"]
    assert hit["string_nest"] == {"city": "Mountain View", "country_name": "United States"}
    assert hit["unknown_city"] is None
    assert hit["undefined"] is None
    assert hit["broken_array1"] == [-122.0574, None]
    assert hit["broken_array2"] == [None, None]
    assert miss["message"] == "missing field"
    assert miss["from_city"] is None
    assert miss["latitude"] is None
    assert miss["float_concat"] == ","
    assert miss["float_array"] == [None, None]
    assert miss["float_nest"] == {"lat": None, "lon": None}
    assert miss["string_concat"] == ","
    assert miss["string_array"] == [None, None]
    assert miss["string_nest"] == {"city": None, "country_name": None}
    assert miss["broken_array1"] == [None, None]


def test_filter_record_directive_multiple_record(spark):  # test:325-362 (J2)
    cfg = GeoipConfig(
        lookup_keys=["$.from.ip", "$.to.ip"],
        records={
            "from_city": "${city.names.en['$.from.ip']}",
            "to_city": "${city.names.en['$.to.ip']}",
            "from_country": "${country.names.en['$.from.ip']}",
            "to_country": "${country.names.en['$.to.ip']}",
            "string_array": "[${country.names.en['$.from.ip']}, ${country.names.en['$.to.ip']}]",
        })
    schema = T.StructType([
        T.StructField("from", T.StructType([T.StructField("ip", S)])),
        T.StructField("to", T.StructType([T.StructField("ip", S)])),
        T.StructField("message", S),
    ])
    out = run(spark, cfg, [(("66.102.3.80",), ("125.54.15.42",), None),
                           (None, None, "missing field")], schema)
    assert out[0]["from_city"] == "Mountain View"
    assert out[0]["from_country"] == "United States"
    assert out[0]["to_city"] == "Tokorozawa"
    assert out[0]["to_country"] == "Japan"
    assert out[0]["string_array"] == ["United States", "Japan"]
    assert out[1]["from_city"] is None
    assert out[1]["string_array"] == [None, None]


QUOTED_RECORDS = {
    "location_properties": "'{ \"country_code\" : \"${country.iso_code[\"host\"]}\", \"lat\": ${location.latitude[\"host\"]}, \"lon\": ${location.longitude[\"host\"]} }'",
    "location_string": "${location.latitude['host']},${location.longitude['host']}",
    "location_string2": "${country.iso_code[\"host\"]}",
    "location_array": "\"[${location.longitude['host']},${location.latitude['host']}]\"",
    "location_array2": "'[${location.longitude[\"host\"]},${location.latitude[\"host\"]}]'",
    "peculiar_pattern": "'[GEOIP] message => {\"lat\":${location.latitude[\"host\"]}, \"lon\":${location.longitude[\"host\"]}}'",
}


def test_filter_quoted_record(spark):  # test:364-423
    cfg = GeoipConfig(lookup_keys=["host"], records=dict(QUOTED_RECORDS))
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("66.102.3.80", "valid ip")], schema)
    assert out == [{
        "host": "66.102.3.80", "message": "valid ip",
        "location_properties": {"country_code": "US", "lat": 37.419200000000004,
                                "lon": -122.0574},
        "location_string": "37.419200000000004,-122.0574",
        "location_string2": "US",
        "location_array": [-122.0574, 37.419200000000004],
        "location_array2": [-122.0574, 37.419200000000004],
        "peculiar_pattern": '[GEOIP] message => {"lat":37.419200000000004, "lon":-122.0574}',
    }]


def test_filter_multiline_json(spark):  # test:425-454
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={"location_properties": (
            '{\n'
            '  "city": "${city.names.en[\'host\']}",\n'
            '  "country_code": "${country.iso_code[\'host\']}",\n'
            '  "latitude": "${location.latitude[\'host\']}",\n'
            '  "longitude": "${location.longitude[\'host\']}"\n'
            '}')})
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("66.102.3.80", "valid ip")], schema)
    # quoted numeric placeholders yield numbers (quote-consumption, rb:29,127-132)
    assert out[0]["location_properties"] == {
        "city": "Mountain View", "country_code": "US",
        "latitude": 37.419200000000004, "longitude": -122.0574}


def test_filter_when_latitude_longitude_is_nil(spark):  # test:456-480 (F7)
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={"latitude": "${location.latitude['host']}",
                 "longitude": "${location.longitude['host']}"})
    schema = T.StructType([T.StructField("host", S), T.StructField("message", S)])
    out = run(spark, cfg, [("180.94.85.84", "nil latitude and longitude")], schema)
    assert out == [{"host": "180.94.85.84", "message": "nil latitude and longitude",
                    "latitude": 0.0, "longitude": 0.0}]


@pytest.mark.parametrize("accessor,ph_key", [
    ('$["host"]["ip"]', "${city.names.en['$[\"host\"][\"ip\"]']}"),  # test:482-500
    ("$['host']['ip']", '${city.names.en["$[\'host\'][\'ip\']"]}'),  # test:502-520
    ("$.host.ip", "${city.names.en['$.host.ip']}"),                  # test:859-877 style
])
def test_filter_nested_accessors(spark, accessor, ph_key):
    cfg = GeoipConfig(lookup_keys=[accessor], records={"geoip_city": ph_key})
    schema = T.StructType([
        T.StructField("host", T.StructType([T.StructField("ip", S)])),
        T.StructField("message", S),
    ])
    out = run(spark, cfg, [(("66.102.3.80",), "valid ip"), (None, "missing field")],
              schema)
    assert out[0]["geoip_city"] == "Mountain View"
    assert out[1]["geoip_city"] is None


# --------------------------------------------------------------------------
# geoip2_compat + legacy geoip backend matrix (test:523-816, 818-1217)
# --------------------------------------------------------------------------

def test_compat_backend(spark):  # test:524-542
    cfg = GeoipConfig(
        backend_library="geoip2_compat",
        lookup_keys=["host"],
        records={
            "geoip_city": "${city['host']}",
            "country": "${country_code['host']}",
            "float_concat": "${latitude['host']},${longitude['host']}",
        })
    schema = T.StructType([T.StructField("host", S)])
    out = run(spark, cfg, [("66.102.3.80",)], schema, db=geoip2_compat_db())
    # compat reads the GeoLite2 mmdb → GeoIP2 float precision (test:625)
    assert out == [{"host": "66.102.3.80", "geoip_city": "Mountain View",
                    "country": "US",
                    "float_concat": "37.419200000000004,-122.0574"}]


def _record_directive_cfg(backend: str) -> GeoipConfig:
    """The 15-template record directive restated for the flat-attr backends
    (reference test:592-658 compat, test:986-1060 legacy)."""
    return GeoipConfig(
        backend_library=backend,
        lookup_keys=["$.from.ip"],
        records={
            "from_city": "${city['$.from.ip']}",
            "from_country": "${country_name['$.from.ip']}",
            "latitude": "${latitude['$.from.ip']}",
            "longitude": "${longitude['$.from.ip']}",
            "float_concat": "${latitude['$.from.ip']},${longitude['$.from.ip']}",
            "float_array": "[${longitude['$.from.ip']}, ${latitude['$.from.ip']}]",
            "float_nest": "{ \"lat\" : ${latitude['$.from.ip']}, \"lon\" : ${longitude['$.from.ip']}}",
            "string_concat": "${city['$.from.ip']},${country_name['$.from.ip']}",
            "string_array": "[${city['$.from.ip']}, ${country_name['$.from.ip']}]",
            "string_nest": "{ \"city\" : ${city['$.from.ip']}, \"country_name\" : ${country_name['$.from.ip']}}",
            "unknown_city": "${city['unknown_key']}",
            "undefined": "${city['undefined']}",
            "broken_array1": "[${longitude['$.from.ip']}, ${latitude['undefined']}]",
            "broken_array2": "[${longitude['undefined']}, ${latitude['undefined']}]",
        })


@pytest.mark.parametrize("backend,db_fn,lat,lon", [
    ("geoip2_compat", geoip2_compat_db, 37.419200000000004, -122.0574),
    ("geoip", geoip_legacy_db, 37.4192008972168, -122.05740356445312),
])
def test_flat_backend_record_directive(spark, backend, db_fn, lat, lon):
    # compat: test:592-658; legacy: test:986-1060 (backend-specific floats)
    schema = T.StructType([
        T.StructField("from", T.StructType([T.StructField("ip", S)])),
        T.StructField("message", S),
    ])
    out = run(spark, _record_directive_cfg(backend),
              [(("66.102.3.80",), None), (None, "missing field")], schema,
              db=db_fn())
    hit, miss = out
    assert hit["from_city"] == "Mountain View"
    assert hit["from_country"] == "United States"
    assert hit["latitude"] == lat and hit["longitude"] == lon
    assert hit["float_concat"] == f"{lat!r},{lon!r}"
    assert hit["float_array"] == [lon, lat]
    assert hit["float_nest"] == {"lat": lat, "lon": lon}
    assert hit["string_concat"] == "Mountain View,United States"
    assert hit["string_array"] == ["Mountain View", "United States"]
    assert hit["string_nest"] == {"city": "Mountain View",
                                  "country_name": "United States"}
    assert hit["unknown_city"] is None and hit["undefined"] is None
    assert hit["broken_array1"] == [lon, None]
    assert hit["broken_array2"] == [None, None]
    assert miss["float_concat"] == "," and miss["string_concat"] == ","
    assert miss["float_array"] == [None, None]
    assert miss["float_nest"] == {"lat": None, "lon": None}
    assert miss["string_nest"] == {"city": None, "country_name": None}


def test_legacy_backend(spark):  # test:1018-1047 style (legacy float precision)
    cfg = GeoipConfig(
        backend_library="geoip",
        lookup_keys=["host"],
        records={
            "geoip_city": "${city['host']}",
            "country_code3": "${country_code3['host']}",
            "latitude": "${latitude['host']}",
            "float_array": "[${longitude['host']}, ${latitude['host']}]",
        })
    schema = T.StructType([T.StructField("host", S)])
    out = run(spark, cfg, [("66.102.3.80",)], schema, db=geoip_legacy_db())
    assert out == [{"host": "66.102.3.80", "geoip_city": "Mountain View",
                    "country_code3": "USA", "latitude": 37.4192008972168,
                    "float_array": [-122.05740356445312, 37.4192008972168]}]


def test_legacy_int_attrs(spark):  # dma/area ints (README.md:341-342)
    cfg = GeoipConfig(
        backend_library="geoip", lookup_keys=["host"],
        records={"dma": "${dma_code['host']}", "area": "${area_code['host']}",
                 "concat": "${dma_code['host']}-${area_code['host']}"})
    schema = T.StructType([T.StructField("host", S)])
    out = run(spark, cfg, [("66.102.3.80",), ("203.0.113.1",)], schema,
              db=geoip_legacy_db())
    assert out[0]["dma"] == 807 and out[0]["area"] == 650
    assert out[0]["concat"] == "807-650"
    assert out[1]["dma"] is None and out[1]["concat"] == "-"


def test_skip_null_record_first_surviving_placeholder(spark):
    """rb:122-123 + rb:191: the skip check reads the first placeholder whose
    lookup HIT (create_placeholder only inserts survivors) — a miss on the
    first lookup key must NOT skip the row when a later key hits."""
    cfg = GeoipConfig(
        lookup_keys=["h1", "h2"],
        records={"a": "${city.names.en['h1']}", "b": "${city.names.en['h2']}"},
        skip_adding_null_record=True)
    schema = T.StructType([T.StructField("h1", S), T.StructField("h2", S)])
    out = run(spark, cfg, [
        ("0", "66.102.3.80"),          # h1 miss, h2 hit → NOT skipped
        ("0", "203.0.113.1"),          # both miss → skipped
        ("180.94.85.84", "66.102.3.80"),  # h1 hit but city nil → skipped
        ("66.102.3.80", "0"),          # h1 hit with city → not skipped
    ], schema)
    assert out[0][SKIP_FLAG] is False
    assert out[0]["a"] is None and out[0]["b"] == "Mountain View"
    assert out[1][SKIP_FLAG] is True
    assert out[2][SKIP_FLAG] is True
    assert out[3][SKIP_FLAG] is False and out[3]["a"] == "Mountain View"


def test_skip_null_record_unknown_first_key(spark):
    """A placeholder on an unknown record key is never inserted into the
    placeholder hash — it must not poison the skip check."""
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={"u": "${city.names.en['nope']}",
                 "c": "${city.names.en['host']}"},
        skip_adding_null_record=True)
    schema = T.StructType([T.StructField("host", S)])
    out = run(spark, cfg, [("66.102.3.80",), ("203.0.113.1",)], schema)
    assert out[0][SKIP_FLAG] is False and out[0]["c"] == "Mountain View"
    assert out[1][SKIP_FLAG] is True


def test_ruby_float_repr_exponent_corners():
    """Ruby Float#to_s golden values — exponent form keeps a '.0' mantissa
    and specials are Infinity/NaN (divergence flagged in round-1 ADVICE)."""
    from fluent_plugin_geoip_spark.functions.templates import _ruby_float_repr
    assert _ruby_float_repr(1e16) == "1.0e+16"
    assert _ruby_float_repr(-1e16) == "-1.0e+16"
    assert _ruby_float_repr(1e-5) == "1.0e-05"
    assert _ruby_float_repr(1.5e-7) == "1.5e-07"
    assert _ruby_float_repr(1e100) == "1.0e+100"
    # fixed-notation side of the thresholds (same as Python repr)
    assert _ruby_float_repr(1e15) == "1000000000000000.0"
    assert _ruby_float_repr(1e-4) == "0.0001"
    assert _ruby_float_repr(37.419200000000004) == "37.419200000000004"
    assert _ruby_float_repr(float("inf")) == "Infinity"
    assert _ruby_float_repr(float("-inf")) == "-Infinity"
    assert _ruby_float_repr(float("nan")) == "NaN"


def test_ruby_double_strs_vectorized_matches_scalar_reference():
    """The vectorized NumPy kernel must equal the scalar _ruby_float_repr on
    random bit patterns and every notation corner (VERDICT r2: no s.map)."""
    import struct
    import random
    import numpy as np
    from fluent_plugin_geoip_spark.functions.templates import (
        _ruby_float_repr, ruby_double_strs,
    )
    rng = random.Random(20260816)
    vals = [37.419200000000004, -122.0574, 0.0, -0.0, 1e16, -1e16, 1e15,
            9.999999999999998e15, 1e-4, 1e-5, 1.5e-7, 1e100, 5e-324,
            1.7976931348623157e308, float("inf"), float("-inf")]
    for _ in range(5000):
        v = struct.unpack(">d", struct.pack(">Q", rng.getrandbits(64)))[0]
        if v == v:  # NaN → '' in the kernel (nil rule); scalar says 'NaN'
            vals.append(v)
    got = ruby_double_strs(np.array(vals, dtype=np.float64))
    for v, g in zip(vals, got):
        assert g == _ruby_float_repr(v), (v, g)
    assert list(ruby_double_strs(np.array([float("nan")]))) == [""]
    assert list(ruby_double_strs(np.array([]))) == []


def test_ruby_double_str_called_by_name(spark):
    """The registered formatter, called by name, is a plan-agnostic Column
    that still plans as an Arrow crossing and prints Ruby's Float#to_s;
    null and NaN interpolate as ''."""
    from pyspark.sql import functions as F

    from fluent_plugin_geoip_spark.functions.binding import (
        is_plan_independent)
    from fluent_plugin_geoip_spark.functions.templates import (
        RUBY_DOUBLE_STR, register_ruby_double_str,
    )
    register_ruby_double_str(spark)
    col = F.call_function(RUBY_DOUBLE_STR, F.col("v"))
    assert is_plan_independent(col)
    df = spark.createDataFrame(
        [(0, 37.419200000000004), (1, 1e16), (2, 1e-5), (3, None),
         (4, float("nan"))], "id int, v double")
    out = df.select("id", col.alias("s"))
    assert "ArrowEvalPython" in \
        out._jdf.queryExecution().executedPlan().toString()
    assert [r.s for r in out.orderBy("id").collect()] == [
        "37.419200000000004", "1.0e+16", "1.0e-05", "", ""]


def test_mixed_type_array_template_falls_back_to_string(spark):
    """Heterogeneous JSON array templates: Ruby would emit a mixed array;
    Spark arrays are single-typed, so everything is stringified (documented
    divergence — was a config-time error in round 1)."""
    cfg = GeoipConfig(
        lookup_keys=["host"],
        records={"mixed": "[${city.names.en['host']}, ${location.latitude['host']}, 3]"})
    schema = T.StructType([T.StructField("host", S)])
    out = run(spark, cfg, [("66.102.3.80",), ("203.0.113.1",)], schema)
    assert out[0]["mixed"] == ["Mountain View", "37.419200000000004", "3"]
    assert out[1]["mixed"] == [None, None, "3"]
