"""Analytical query plans.

``analytics`` holds the oracle-checked battery over the shared testdata
(TPC-H-ish tables); ``reference_queries`` holds the reference's Q1-Q9 over the
cleaned pin/geo/user entity tables (SURVEY.md §2.8).
"""
