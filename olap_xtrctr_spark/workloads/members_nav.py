"""Metadata navigation entries: member listing, search, children,
apartados/variables and pagination over the members table, plus the
DMV (DISCOVER / MDSCHEMA) rowsets the same metadata layer serves.
"""
from __future__ import annotations

from .. import members as M
from ..workload_shared import CATALOG, _MEMBERS_CTE, _members


def register(add) -> None:
    # ================= member navigation (SURVEY §2.3) ====================

    add("members_nation_list",
        lambda spark, sf: M.get_dimension_members(
            _members(spark, sf), "Dim Customer",
            "Dim Customer.Geografía", "Nation"),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
        FROM members
        WHERE DIMENSION = 'Dim Customer'
          AND JERARQUIA = 'Dim Customer.Geografía'
          AND NIVEL_NOMBRE = 'Nation'
          AND MIEMBRO_CAPTION <> 'All'""")

    # old-cube path: level located via depth inference; inferred names are
    # 'Nivel N' for unnamed depths (reference N6) — Nation sits at depth 2
    add("members_depth_filter",
        lambda spark, sf: M.get_dimension_members(
            _members(spark, sf), "Dim Customer",
            "Dim Customer.Geografía", "Nivel 2", use_depth=True),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
        FROM members
        WHERE DIMENSION = 'Dim Customer'
          AND JERARQUIA = 'Dim Customer.Geografía'
          AND (length(MIEMBRO_UNIQUE_NAME)
               - length(replace(MIEMBRO_UNIQUE_NAME, '.&[', ''))) / 3 = 2
          AND MIEMBRO_CAPTION <> 'All'""")

    add("members_search",
        lambda spark, sf: M.search_members(
            _members(spark, sf), "EUROPE", dimension="Dim Customer"),
        _MEMBERS_CTE + """
        SELECT DIMENSION, JERARQUIA, NIVEL_NOMBRE,
               MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
        FROM members
        WHERE upper(MIEMBRO_CAPTION) LIKE '%EUROPE%'
          AND MIEMBRO_CAPTION <> 'All'
          AND DIMENSION = 'Dim Customer'""")

    # N17 tokenized full-text search: multi-term AND, order-independent
    # ("east middle" finds UNITED STATES; substring contains cannot)
    add("members_fulltext_search",
        lambda spark, sf: M.fulltext_search_members(
            _members(spark, sf), "east middle"),
        _MEMBERS_CTE + """
        SELECT DIMENSION, JERARQUIA, NIVEL_NOMBRE,
               MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
        FROM members
        WHERE MIEMBRO_CAPTION <> 'All'
          AND list_has_all(
                regexp_split_to_array(trim(translate(lower(
                  MIEMBRO_CAPTION), 'áéíóúñü', 'aeiounu')), '[^a-z0-9]+'),
                ['east', 'middle'])""")

    # N17 stemmed variant: both sides pass through the shared Spanish
    # suffix stripper (members.ES_STEM_PATTERN — same regex in Spark's
    # Java engine, Python re, and DuckDB's RE2), so the plural query
    # 'blue widgets' finds the singular caption 'blue widget', matching
    # the reference's to_tsvector('spanish') lexeme behavior.
    add("members_fulltext_stemmed",
        lambda spark, sf: M.fulltext_search_members(
            _members(spark, sf), "blue widgets", stem=True),
        _MEMBERS_CTE + f"""
        SELECT DIMENSION, JERARQUIA, NIVEL_NOMBRE,
               MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
        FROM members
        WHERE MIEMBRO_CAPTION <> 'All'
          AND list_has_all(
                list_transform(
                  regexp_split_to_array(trim(translate(lower(
                    MIEMBRO_CAPTION), 'áéíóúñü', 'aeiounu')), '[^a-z0-9]+'),
                  t -> regexp_replace(t, '{M.ES_STEM_PATTERN}', '\\1')),
                ['blue', 'widget'])""")

    add("members_children_exact",
        lambda spark, sf: M.children_of(
            _members(spark, sf),
            ["[Dim Customer].[Geografía].[Region].&[2]"]),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME, PARENT_UNIQUE_NAME
        FROM members
        WHERE PARENT_UNIQUE_NAME = '[Dim Customer].[Geografía].[Region].&[2]'
          AND MIEMBRO_CAPTION <> 'All'""")

    add("members_children_prefix",
        lambda spark, sf: M.children_of(
            _members(spark, sf),
            ["[Dim Customer].[Geografía].[Region].&[2]"],
            prefix_fallback=True),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME, PARENT_UNIQUE_NAME
        FROM members
        WHERE starts_with(MIEMBRO_UNIQUE_NAME,
                          '[Dim Customer].[Geografía].[Region].&[2]')
          AND MIEMBRO_UNIQUE_NAME <> '[Dim Customer].[Geografía].[Region].&[2]'
          AND MIEMBRO_CAPTION <> 'All'""")

    add("members_apartados",
        lambda spark, sf: M.get_apartados(_members(spark, sf)),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME, CHILDREN_CARDINALITY
        FROM members
        WHERE upper(JERARQUIA) LIKE '%APARTADO%'
          AND MIEMBRO_CAPTION <> 'All'
          AND NIVEL_NOMBRE = 'Apartado'""")

    add("members_variables_of_apartados",
        lambda spark, sf: M.children_of(
            _members(spark, sf),
            ["[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#11]",
             "[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#12]"]),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME, PARENT_UNIQUE_NAME
        FROM members
        WHERE PARENT_UNIQUE_NAME IN (
            '[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#11]',
            '[DIM VARIABLES2025].[Apartado y Variable].[Apartado].&[Brand#12]')
          AND MIEMBRO_CAPTION <> 'All'""")

    add("members_ordinal_sort",
        lambda spark, sf: M.members_sorted(
            _members(spark, sf), "D Tiempo", "D Tiempo.Calendario", "Mes"),
        _MEMBERS_CTE + """
        SELECT MIEMBRO_CAPTION, MIEMBRO_ORDINAL,
               CAST(ROW_NUMBER() OVER (ORDER BY
                   coalesce(CAST(MIEMBRO_ORDINAL AS BIGINT),
                            TRY_CAST(MIEMBRO_KEY AS BIGINT)) NULLS LAST,
                   MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME) AS INTEGER) AS rn
        FROM members
        WHERE DIMENSION = 'D Tiempo'
          AND JERARQUIA = 'D Tiempo.Calendario'
          AND NIVEL_NOMBRE = 'Mes'
          AND MIEMBRO_CAPTION <> 'All'""")

    add("members_pagination",
        lambda spark, sf: M.paginate_members(
            _members(spark, sf), "Dim Customer", "Dim Customer.Geografía",
            "Nation", limit=10, offset=10),
        _MEMBERS_CTE + """
        SELECT rn, MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME FROM (
          SELECT CAST(ROW_NUMBER() OVER (
                   ORDER BY MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME) AS INTEGER) AS rn,
                 MIEMBRO_CAPTION, MIEMBRO_UNIQUE_NAME
          FROM members
          WHERE DIMENSION = 'Dim Customer'
            AND JERARQUIA = 'Dim Customer.Geografía'
            AND NIVEL_NOMBRE = 'Nation'
            AND MIEMBRO_CAPTION <> 'All')
        WHERE rn > 10 AND rn <= 20""")

    def members_full(spark, sf):
        from ..normalized import normalize_members, v_members_full
        return v_members_full(normalize_members(_members(spark, sf)))

    # J1: normalized 5-table snapshot reconstructed through the FK join
    # chain (reference v_members_full, 001_initial_schema.sql:95-116);
    # round-trip must reproduce the denormalized members projection
    add("members_full_view", members_full,
        _MEMBERS_CTE + """
        SELECT CATALOGO AS catalog_code,
               DIMENSION AS dimension_name,
               JERARQUIA AS hierarchy_name,
               NIVEL_NOMBRE AS level_name,
               NIVEL_NUMERO AS level_number,
               MIEMBRO_CAPTION AS member_caption,
               MIEMBRO_UNIQUE_NAME AS member_unique_name,
               PARENT_UNIQUE_NAME AS parent_unique_name,
               CHILDREN_CARDINALITY AS children_cardinality
        FROM members""")

    add("members_level_cardinalities",
        lambda spark, sf: M.level_cardinalities(_members(spark, sf)),
        _MEMBERS_CTE + """
        SELECT DIMENSION, JERARQUIA, NIVEL_NOMBRE, COUNT(*) AS n_members
        FROM members
        WHERE MIEMBRO_CAPTION <> 'All'
        GROUP BY 1, 2, 3""")

    # ============= DISCOVER_* server rowsets (SURVEY §2.2) ================
    # The engine-side counterparts of the reference's server discovery
    # scan (scanner/DGIS_SCAN_2_stable.py:256-268,338).  Both rowsets are
    # static engine catalogs, so the oracle is the expected content
    # stated literally — an exact-value check, not a tautology.

    def _dmv(spark, sf, sql):
        from .. import metadata
        from ..cube import default_registry
        from ..mdx import execute_dmv
        reg = default_registry()
        cube = reg.resolve("VENTAS_2025")
        metadata.register_dmv_views(spark, reg, cube, sf,
                                    prefix="wl_system")
        return execute_dmv(spark, sql, view_prefix="wl_system")

    add("dmv_discover_schema_rowsets",
        lambda spark, sf: _dmv(spark, sf,
            "SELECT [SCHEMA_NAME], [SCHEMA_COLUMNS], [DESCRIPTION] "
            "FROM $system.DISCOVER_SCHEMA_ROWSETS "
            "ORDER BY [SCHEMA_NAME]"),
        """SELECT * FROM (VALUES
  ('DBSCHEMA_CATALOGS', 'CATALOG_NAME,DESCRIPTION',
   'available catalogs'),
  ('DISCOVER_CONNECTIONS',
   'CONNECTION_ID,CONNECTION_USER_NAME,CONNECTION_HOST_NAME,CONNECTION_START_TIME',
   'the backing Spark session'),
  ('DISCOVER_PROPERTIES',
   'PROPERTY_NAME,PROPERTY_TYPE,PROPERTY_ACCESS_TYPE,VALUE,PROPERTY_DESCRIPTION',
   'engine properties and declared defaults'),
  ('DISCOVER_SCHEMA_ROWSETS',
   'SCHEMA_NAME,SCHEMA_COLUMNS,RESTRICTIONS,DESCRIPTION',
   'this rowset: every queryable rowset with its column list'),
  ('DISCOVER_SESSIONS',
   'SESSION_ID,SESSION_STATUS,SESSION_CURRENT_DATABASE,SESSION_LAST_COMMAND,SESSION_START_TIME,SESSION_LAST_UPDATE_TIME',
   'query jobs known to this engine process'),
  ('MDSCHEMA_CUBES', 'CATALOG_NAME,CUBE_NAME', 'cubes per catalog'),
  ('MDSCHEMA_DIMENSIONS', 'CUBE_NAME,DIMENSION_NAME,DIMENSION_UNIQUE_NAME',
   'dimensions of the resolved cube'),
  ('MDSCHEMA_HIERARCHIES',
   'CUBE_NAME,DIMENSION_UNIQUE_NAME,HIERARCHY_NAME,HIERARCHY_UNIQUE_NAME,HIERARCHY_CAPTION,HIERARCHY_IS_VISIBLE',
   'hierarchies per dimension'),
  ('MDSCHEMA_LEVELS',
   'CUBE_NAME,DIMENSION_UNIQUE_NAME,HIERARCHY_UNIQUE_NAME,LEVEL_NAME,LEVEL_UNIQUE_NAME,LEVEL_CAPTION,LEVEL_NUMBER',
   'levels per hierarchy'),
  ('MDSCHEMA_MEASURES',
   'CUBE_NAME,MEASURE_NAME,MEASURE_UNIQUE_NAME,MEASURE_CAPTION,MEASURE_AGGREGATOR,MEASURE_IS_VISIBLE',
   'measures with aggregator and visibility'),
  ('MDSCHEMA_MEMBERS',
   'CATALOGO,DIMENSION,JERARQUIA,NIVEL_NOMBRE,NIVEL_NUMERO,MIEMBRO_CAPTION,MIEMBRO_UNIQUE_NAME,PARENT_UNIQUE_NAME,CHILDREN_CARDINALITY,MIEMBRO_ORDINAL,MIEMBRO_KEY',
   'member enumeration (cached view)'),
  ('MDSCHEMA_PROPERTIES',
   'CUBE_NAME,DIMENSION_UNIQUE_NAME,LEVEL_UNIQUE_NAME,PROPERTY_NAME,PROPERTY_CAPTION',
   'ancestor-caption member properties')
) AS t(SCHEMA_NAME, SCHEMA_COLUMNS, DESCRIPTION)
ORDER BY SCHEMA_NAME""")

    add("dmv_discover_properties",
        lambda spark, sf: _dmv(spark, sf,
            "SELECT [PROPERTY_NAME], [PROPERTY_TYPE], [VALUE] "
            "FROM $system.DISCOVER_PROPERTIES "
            "ORDER BY [PROPERTY_NAME]"),
        """SELECT * FROM (VALUES
  ('CardinalityWarnThreshold', 'int', '100000'),
  ('DataSourceInfo', 'string', 'spark'),
  ('JobResultLimit', 'int', '10000'),
  ('MaxRowAxisDimensions', 'int', '3'),
  ('MemberPageSize', 'int', '1000'),
  ('PreviewLimit', 'int', '20'),
  ('ProviderName', 'string', 'olap_xtrctr_spark'),
  ('ProviderVersion', 'string', '0.1.0')
) AS t(PROPERTY_NAME, PROPERTY_TYPE, VALUE)
ORDER BY PROPERTY_NAME""")

    # MDSCHEMA_FUNCTIONS: the parser's function surface as a DMV —
    # the rows-set wrapper block enumerates mdx._SET_WRAPPERS (the
    # literal dispatch list), so rowset and parser cannot drift; the
    # oracle states the expected inventory literally (exact-value
    # check like dmv_discover_properties).
    def _dmv_functions(spark, sf):
        from .. import metadata
        from ..cube import default_registry
        from ..mdx import execute_dmv
        reg = default_registry()
        cube = reg.resolve(CATALOG)
        metadata.register_dmv_views(spark, reg, cube, sf,
                                    prefix="wl_system")
        return execute_dmv(
            spark,
            "SELECT [FUNCTION_NAME], [RETURN_TYPE] "
            "FROM $system.MDSCHEMA_FUNCTIONS ORDER BY [FUNCTION_NAME]",
            view_prefix="wl_system")

    add("dmv_mdschema_functions", _dmv_functions,
        """SELECT * FROM (VALUES
  ('ADDCALCULATEDMEMBERS', 'Set'),
  ('AGGREGATE', 'Scalar'),
  ('ANCESTOR', 'Member'),
  ('BOTTOMCOUNT', 'Set'),
  ('BOTTOMPERCENT', 'Set'),
  ('BOTTOMSUM', 'Set'),
  ('CROSSJOIN', 'Set'),
  ('DESCENDANTS', 'Set'),
  ('EXCEPT', 'Set'),
  ('FILTER', 'Set'),
  ('HEAD', 'Set'),
  ('HIERARCHIZE', 'Set'),
  ('INTERSECT', 'Set'),
  ('LASTPERIODS', 'Set'),
  ('MAX', 'Scalar'),
  ('MEDIAN', 'Scalar'),
  ('MIN', 'Scalar'),
  ('NONEMPTY', 'Set'),
  ('ORDER', 'Set'),
  ('PARALLELPERIOD', 'Member'),
  ('RANK', 'Scalar'),
  ('STRIPCALCULATEDMEMBERS', 'Set'),
  ('SUM', 'Scalar'),
  ('TAIL', 'Set'),
  ('TOPCOUNT', 'Set'),
  ('TOPPERCENT', 'Set'),
  ('TOPSUM', 'Set'),
  ('UNION', 'Set'),
  ('YTD', 'Set')
) AS t(FUNCTION_NAME, RETURN_TYPE)
ORDER BY FUNCTION_NAME""")
