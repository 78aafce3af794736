"""Ported stuv tests (s2js ``s2/stuv_test.ts``) against the
scalar port."""

from __future__ import annotations

import math

import numpy as np

from s2js_spark.geometry.cell import (
    face_uv_to_xyz,
    face_xyz_to_uv,
    face_xyz_to_uvw,
    u_axis,
    u_norm,
    unit_norm,
    uvw_axis,
    v_axis,
    v_norm,
)
from s2js_spark.geometry import cellid_scalar as cs
from s2js_spark.geometry.point import Point

EPSILON = 1e-14


def test_transformations():
    # stuv_test.ts:33-36
    assert cs._st_to_uv_scalar(cs._uv_to_st_scalar(0.125)) == 0.125
    assert cs._uv_to_st_scalar(cs._st_to_uv_scalar(0.125)) == 0.125


def test_uv_norms():
    # stuv_test.ts:38-46 (coarser step for runtime)
    step = 1 / 64.0
    for face in range(6):
        x = -1.0
        while x <= 1:
            a = face_uv_to_xyz(face, x, -1)
            b = face_uv_to_xyz(face, x, 1)
            assert abs(a.cross(b).angle(u_norm(face, x))) < EPSILON
            a = face_uv_to_xyz(face, -1, x)
            b = face_uv_to_xyz(face, 1, x)
            assert abs(a.cross(b).angle(v_norm(face, x))) < EPSILON
            x += step


def test_face_uv_to_xyz():
    # stuv_test.ts:48-73
    total = Point(0.0, 0.0, 0.0)
    for face in range(6):
        center = face_uv_to_xyz(face, 0, 0)
        assert center.approx_equal(unit_norm(face), 1e-14)
        lc = center.largest_component()
        assert abs([center.x, center.y, center.z][lc]) == 1
        total = total.add(center.abs())
        assert u_axis(face).cross(v_axis(face)).dot(unit_norm(face)) == 1
        sign = -1 if face & 1 else 1
        assert face_uv_to_xyz(face, sign, -sign).equals(
            face_uv_to_xyz((face + 1) % 6, -1, -1)
        )
    assert total.approx_equal(Point(2.0, 2.0, 2.0), 1e-14)

    # the CellID port's projection agrees with the cell helpers
    for face in range(6):
        for u in np.linspace(-1, 1, 9):
            for v in np.linspace(1, -1, 9):
                want = face_uv_to_xyz(face, float(u), float(v))
                got = cs._face_uv_to_xyz_scalar(face, float(u), float(v))
                assert got == (want.x, want.y, want.z)


def test_face_xyz_to_uv():
    # stuv_test.ts:75-98
    point = Point(1.1, 1.2, 1.3)
    point_neg = Point(-1.1, -1.2, -1.3)
    cases = [
        (0, point, 1 + 1.0 / 11, 1 + 2.0 / 11, True),
        (0, point_neg, 0, 0, False),
        (1, point, -11.0 / 12, 1 + 1.0 / 12, True),
        (1, point_neg, 0, 0, False),
        (2, point, -11.0 / 13, -12.0 / 13, True),
        (2, point_neg, 0, 0, False),
        (3, point, 0, 0, False),
        (3, point_neg, 1 + 2.0 / 11, 1 + 1.0 / 11, True),
        (4, point, 0, 0, False),
        (4, point_neg, 1 + 1.0 / 12, -(11.0 / 12), True),
        (5, point, 0, 0, False),
        (5, point_neg, -12.0 / 13, -11.0 / 13, True),
    ]
    for face, p, want_u, want_v, want_ok in cases:
        u, v, ok = face_xyz_to_uv(face, p)
        assert abs(u - want_u) < EPSILON and abs(v - want_v) < EPSILON and ok == want_ok


def test_face_xyz_to_uvw():
    # stuv_test.ts:100-118
    origin = Point(0.0, 0.0, 0.0)
    for face in range(6):
        assert face_xyz_to_uvw(face, origin).equals(origin)
        assert face_xyz_to_uvw(face, u_axis(face)).equals(Point(1.0, 0.0, 0.0))
        assert face_xyz_to_uvw(face, u_axis(face).mul(-1)).equals(Point(-1.0, 0.0, 0.0))
        assert face_xyz_to_uvw(face, v_axis(face)).equals(Point(0.0, 1.0, 0.0))
        assert face_xyz_to_uvw(face, v_axis(face).mul(-1)).equals(Point(0.0, -1.0, 0.0))
        assert face_xyz_to_uvw(face, unit_norm(face)).equals(Point(0.0, 0.0, 1.0))
        assert face_xyz_to_uvw(face, unit_norm(face).mul(-1)).equals(Point(0.0, 0.0, -1.0))


def test_uvw_axis():
    # stuv_test.ts:120-130
    for face in range(6):
        assert face_uv_to_xyz(face, 1, 0).sub(face_uv_to_xyz(face, 0, 0)).equals(u_axis(face))
        assert face_uv_to_xyz(face, 0, 1).sub(face_uv_to_xyz(face, 0, 0)).equals(v_axis(face))
        assert face_uv_to_xyz(face, 0, 0).equals(unit_norm(face))
        assert u_axis(face).cross(v_axis(face)).dot(unit_norm(face)) == 1
        assert u_axis(face).equals(uvw_axis(face, 0))
        assert v_axis(face).equals(uvw_axis(face, 1))
        assert unit_norm(face).equals(uvw_axis(face, 2))
