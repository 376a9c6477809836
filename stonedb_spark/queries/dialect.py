"""MySQL-dialect text front-end battery: VERBATIM reference MTR scripts.

Every entry here feeds an unmodified excerpt of a reference MTR test
file (mysql-test/suite/tianmu/t/*.test — the reference engine's own
test corpus, executed by MySQL's parser via the handler hook
storage/tianmu/sql/ha_my_tianmu.h:28) through
stonedb_spark.dialect.run_script: the MySQL statements are rewritten
to Spark SQL (backticks, display-width int types, ENGINE clauses,
LIMIT x,y, DIV, GROUP_CONCAT, DATE_SUB INTERVAL, string aliases,
INSERT defaults, ON DUPLICATE KEY UPDATE) and executed against real
Spark tables; the oracle is the SAME script compiled by
dialect.build_oracle_sql into one DuckDB SELECT that replays all
DDL/DML as CTE version chains.  Each entry's source file and line
range is recorded in SOURCES below.

Output-name normalization (out_names) renames the designated SELECT's
columns identically on both engines — presentation only, required
because the driver's comparator keys on column names while the two
engines label computed columns differently.

Scripts are embedded verbatim (MTR runner directives like --echo and
--error are interpreted by dialect.split_mtr; --error statements are
asserted to fail on Spark too).
"""

from __future__ import annotations

import logging

from stonedb_spark.dialect import MYSQL_TEST_DIR, build_oracle_sql, run_script
from stonedb_spark.queries import register

_log = logging.getLogger(__name__)

SOURCES = {
    'dialect_proc_select_assign': ('procedure.test', [(1, 260)]),
    'dialect_proc_while_str': ('procedure.test', [(1, 260)]),
    'dialect_proc_repeat': ('procedure.test', [(1, 260)]),
    'dialect_proc_loop_iterate': ('procedure.test', [(1, 260)]),
    'dialect_proc_case_sel': ('procedure.test', [(1, 260)]),
    'dialect_proc_doiterate': ('procedure.test', [(1, 260)]),
    'dialect_issue1065_procgen': ('issue1065.test', [(1, 213)]),
    'dialect_issue1332_btw_min': ('issue1332.test', [(1, 176)]),
    'dialect_issue1332_null_bat': ('issue1332.test', [(1, 176)]),
    'dialect_issue1332_year3': ('issue1332.test', [(1, 176)]),
    'dialect_issue1332_single': ('issue1332.test', [(1, 176)]),
    'dialect_issue850_export': ('issue850.test', [(1, 92)]),
    'dialect_issue682_zerodate': ('issue682.test', [(1, 27), (44, 59)]),
    'dialect_issue682_zerodel': ('issue682.test', [(1, 27), (44, 59)]),
    'dialect_issue682_nullable': ('issue682.test', [(1, 11), (29, 42)]),
    'dialect_issue682_null_isnull': ('issue682.test', [(1, 11), (29, 42)]),
    'dialect_issue682_null_final': ('issue682.test', [(1, 11), (29, 42)]),
    'dialect_issue682_time': ('issue682.test', [(1, 11), (61, 76)]),
    'dialect_issue682_time_final': ('issue682.test', [(1, 11), (61, 76)]),
    'dialect_issue682_join_date': ('issue682.test', [(1, 11), (78, 111)]),
    'dialect_issue682_join_time': ('issue682.test', [(1, 11), (78, 111)]),
    'dialect_issue682_nzd': ('issue682.test', [(1, 9), (113, 132)]),
    'dialect_issue682_nzd_isnull': ('issue682.test', [(1, 9), (113, 132)]),
    'dialect_issue682_nzd_final': ('issue682.test', [(1, 9), (113, 132)]),
    'dialect_issue1108': ('issue1108.test', [(1, 3)]),
    'dialect_issue1131_engine_var': ('issue1131.test', [(1, 104)]),
    'dialect_issue1131_engine_set': ('issue1131.test', [(1, 104)]),
    'dialect_issue781_safemode': ('issue781.test', [(1, 349)]),
    'dialect_issue781_exists_limit': ('issue781.test', [(1, 349)]),
    'dialect_issue1910_nullrow': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_noon': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_truthyon': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_strlit': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_nested': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_digitcol': ('issue1910.test', [(1, 59)]),
    'dialect_issue1910_semifinal': ('issue1910.test', [(1, 59)]),
    'dialect_issue1696_counter': ('issue1696.test', [(1, 76)]),
    'dialect_issue1696_rec1': ('issue1696.test', [(1, 76)]),
    'dialect_issue1696_rec2': ('issue1696.test', [(1, 76)]),
    'dialect_issue1034_alterpk': ('issue1034.test', [(1, 1255)]),
    'dialect_issue1616_updignore': ('issue1616.test', [(1, 64)]),
    'dialect_issue1616_dtabort': ('issue1616.test', [(1, 64)]),
    'dialect_issue1616_composite': ('issue1616.test', [(1, 64)]),
    'dialect_issue1616_innodb': ('issue1616.test', [(1, 64)]),
    'dialect_issue1637_insignore': ('issue1637.test', [(1, 22)]),
    'dialect_issue1006_load': ('issue1006.test', [(1, 35)]),
    'dialect_issue1897_rownum': ('issue1897.test', [(1, 38)]),
    'dialect_issue1897_inde': ('issue1897.test', [(1, 38)]),
    'dialect_issue1897_groupid': ('issue1897.test', [(1, 38)]),
    'dialect_issue1897_joinrow': ('issue1897.test', [(1, 38)]),
    'dialect_issue1707_cutoff': ('issue1707.test', [(1, 41)]),
    'dialect_issue1903_rank1': ('issue1903.test', [(1, 88)]),
    'dialect_issue1903_rank2': ('issue1903.test', [(1, 88)]),
    'dialect_issue1855_sumlen': ('issue1855.test', [(1, 33)]),
    'dialect_issue1855_sumdiv': ('issue1855.test', [(1, 33)]),
    'dialect_issue538_fn_proj': ('issue538.test', [(1, 265)]),
    'dialect_issue538_fn_on': ('issue538.test', [(1, 265)]),
    'dialect_issue538_fn_agg': ('issue538.test', [(1, 265)]),
    'dialect_issue538_fn_derived': ('issue538.test', [(1, 265)]),
    'dialect_issue538_fn_joinparen': ('issue538.test', [(1, 265)]),
    'dialect_uf_pinyin_gbk': ('user_function.test', [(1, 466)]),
    'dialect_uf_pinyin_gbk3': ('user_function.test', [(1, 466)]),
    'dialect_uf_tohanzi': ('user_function.test', [(1, 466)]),
    'dialect_uf_loop_leave': ('user_function.test', [(1, 466)]),
    'dialect_uf_while_leave': ('user_function.test', [(1, 466)]),
    'dialect_uf_while_iterate': ('user_function.test', [(1, 466)]),
    'dialect_uf_idcard': ('user_function.test', [(1, 466)]),
    'dialect_issue1599_union_str': ('issue1599.test', [(1, 42)]),
    'dialect_issue1599_union_int': ('issue1599.test', [(1, 42)]),
    'dialect_issue1599_dec_str': ('issue1599.test', [(1, 42)]),
    'dialect_issue1599_dec_int': ('issue1599.test', [(1, 42)]),
    'dialect_issue1808_ordered': ('issue1808.test', [(1, 20)]),
    'dialect_issue1860_union_dual': ('issue1860.test', [(1, 43)]),
    'dialect_issue1860_dt_str': ('issue1860.test', [(1, 43)]),
    'dialect_issue1860_dt_std': ('issue1860.test', [(1, 43)]),
    'dialect_issue1860_dt_only': ('issue1860.test', [(1, 43)]),
    'dialect_drop_restrict': ('drop_restric.test', [(1, 30)]),
    'dialect_issue1251_version': ('issue1251.test', [(1, 2)]),
    'dialect_issue1848_gconcat': ('issue1848.test', [(1, 43)]),
    'dialect_trg_upd_fired': ('trigger.test', [(1, 7), (83, 156)]),
    'dialect_trg_upd_rows': ('trigger.test', [(1, 7), (83, 156)]),
    'dialect_trg_ignore_log': ('trigger.test', [(1, 7), (83, 156)]),
    'dialect_trg_ondup_log': ('trigger.test', [(1, 7), (83, 156)]),
    'dialect_trg_err_specifiers': ('trigger.test', [(1, 7), (236, 302)]),
    'dialect_trg_drop_scope': ('trigger.test', [(1, 7), (304, 340)]),
    'dialect_trg_multiupd_vars': ('trigger.test', [(1, 7), (342, 375)]),
    'dialect_trg_multidel_vars': ('trigger.test', [(1, 7), (342, 375)]),
    'dialect_trg_inssel_rows': ('trigger.test', [(1, 7), (377, 400)]),
    'dialect_trg_inssel_flag': ('trigger.test', [(1, 7), (377, 400)]),
    'dialect_trg_upd_accum': ('trigger.test', [(1, 7), (1001, 1063)]),
    'dialect_trg_del_sum': ('trigger.test', [(1, 7), (1001, 1063)]),
    'dialect_trg_del_flag': ('trigger.test', [(1, 7), (1001, 1063)]),
    'dialect_trg_cascade': ('trigger.test', [(1, 7), (1001, 1063)]),
    'dialect_issue581_ins': ('issue581.test', [(1, 60)]),
    'dialect_issue581_upd_noop': ('issue581.test', [(1, 60)]),
    'dialect_issue581_upd_miss': ('issue581.test', [(1, 60)]),
    'dialect_issue1318_audit': ('issue1318.test', [(1, 87)]),
    'dialect_issue226_ctas_union': ('issue226.test', [(1, 24)]),
    'dialect_issue271_esc_star': ('issue271.test', [(1, 255)]),
    'dialect_issue271_esc_empty': ('issue271.test', [(1, 255)]),
    'dialect_issue271_esc_bs': ('issue271.test', [(1, 255)]),
    'dialect_issue271_esc_pct': ('issue271.test', [(1, 255)]),
    'dialect_issue271_esc_tail': ('issue271.test', [(1, 255)]),
    'dialect_issue669_notin_del': ('issue669.test', [(1, 22)]),
    'dialect_issue656_load_ts': ('issue656.test', [(1, 18)]),
    'dialect_issue487_mysql50': ('issue487.test', [(1, 13)]),
    'dialect_trg_sum_var': ('trigger.test', [(1, 82), (157, 174)]),
    'dialect_trg_fire_flag': ('trigger.test', [(1, 82), (157, 174)]),
    'dialect_trg_read_new': ('trigger.test', [(1, 82), (157, 174)]),
    'dialect_trg_concat_agg': ('trigger.test', [(1, 82), (157, 174)]),
    'dialect_trg_other_table': ('trigger.test', [(1, 82), (157, 174)]),
    'dialect_issue364_copy_trg': ('issue364.test', [(1, 41)]),
    'dialect_issue422_procgen': ('issue422.test', [(1, 413)]),
    'dialect_issue422_minjoin': ('issue422.test', [(1, 413)]),
    'dialect_issue422_groupint': ('issue422.test', [(1, 413)]),
    'dialect_issue422_joincount': ('issue422.test', [(1, 413)]),
    'dialect_issue422_rightsum': ('issue422.test', [(1, 413)]),
    'dialect_issue222_dollar': ('issue222.test', [(1, 16)]),
    'dialect_issue228_ctas_lit': ('issue228.test', [(1, 19)]),
    'dialect_issue362_utf8name': ('issue362.test', [(1, 18)]),
    'dialect_issue362_utf8bare': ('issue362.test', [(1, 18)]),
    'dialect_create_table_val': ('create_table.test', [(1, 41)]),
    'dialect_issue566_view_rev': ('issue_566.test', [(1, 35)]),
    'dialect_fdef_scalar_sub': ('func_define.test', [(1, 38), (56, 74)]),
    'dialect_fdef_lookup300': ('func_define.test', [(1, 38), (56, 74)]),
    'dialect_fdef_miss': ('func_define.test', [(1, 38), (56, 74)]),
    'dialect_fdef_attrs': ('func_define.test', [(1, 38), (56, 74)]),
    'dialect_uf_select_into': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_if_elseif': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_if_lt': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_if_eq': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_nested_if': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_while': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_case_ret2': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_case_ret5': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_case_ret_eq': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_case_expr': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_case_expr2': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_uf_identity': ('user_function.test', [(1, 138), (188, 235), (407, 421), (464, 466)]),
    'dialect_issue985_show0': ('issue985.test', [(1, 20)]),
    'dialect_issue985_show_comment': ('issue985.test', [(1, 20)]),
    'dialect_issue985_show_utf8c': ('issue985.test', [(1, 20)]),
    'dialect_drop_column_show': ('drop_column.test', [(1, 34)]),
    'dialect_issue1131_show0': ('issue1131.test', [(1, 95)]),
    'dialect_issue1131_show_mid': ('issue1131.test', [(1, 95)]),
    'dialect_issue1131_show_final': ('issue1131.test', [(1, 95)]),
    'dialect_create_index_dup': ('create_index.test', [(1, 17)]),
    'dialect_issue959_str_eq': ('issue959.test', [(1, 205)]),
    'dialect_issue959_char': ('issue959.test', [(1, 205)]),
    'dialect_issue959_bigint_dbl': ('issue959.test', [(1, 205)]),
    'dialect_issue959_signed_float': ('issue959.test', [(1, 205)]),
    'dialect_issue959_negzero': ('issue959.test', [(1, 205)]),
    'dialect_issue959_between_num': ('issue959.test', [(1, 205)]),
    'dialect_issue959_between_str': ('issue959.test', [(1, 205)]),
    'dialect_issue959_notbetween': ('issue959.test', [(1, 205)]),
    'dialect_issue829_dt_in': ('issue829.test', [(1, 108)]),
    'dialect_issue829_dt_lt': ('issue829.test', [(1, 108)]),
    'dialect_issue829_dt_t2': ('issue829.test', [(1, 108)]),
    'dialect_issue829_join_in': ('issue829.test', [(1, 108)]),
    'dialect_issue663_selfdup': ('issue663.test', [(1, 98)]),
    'dialect_issue663_skus': ('issue663.test', [(1, 98)]),
    'dialect_issue906_in_count': ('issue906.test', [(1, 125)]),
    'dialect_issue906_notin_count': ('issue906.test', [(1, 125)]),
    'dialect_issue906_in_count_gb2': ('issue906.test', [(1, 125)]),
    'dialect_issue998_union_ic': ('issue998.test', [(1, 149)]),
    'dialect_issue998_union_ci': ('issue998.test', [(1, 149)]),
    'dialect_issue998_union_tail': ('issue998.test', [(1, 149)]),
    'dialect_issue887_nested_left': ('issue887.test', [(1, 394)]),
    'dialect_issue887_nested_right': ('issue887.test', [(1, 394)]),
    'dialect_issue887_inner_bare': ('issue887.test', [(1, 394)]),
    'dialect_issue887_cross_where': ('issue887.test', [(1, 394)]),
    'dialect_issue887_inner_on_null': ('issue887.test', [(1, 394)]),
    'dialect_issue887_cross_on': ('issue887.test', [(1, 394)]),
    'dialect_issue887_on_and_null': ('issue887.test', [(1, 394)]),
    'dialect_issue887_comma_or': ('issue887.test', [(1, 394)]),
    'dialect_bit_v5': ('bit.test', [(1, 319)]),
    'dialect_bit_literal_63bit': ('bit.test', [(1, 319)]),
    'dialect_bit_range_preds': ('bit.test', [(1, 319)]),
    'dialect_bit_minmax_hex': ('bit.test', [(1, 319)]),
    'dialect_bit_pk_filter': ('bit.test', [(1, 319)]),
    'dialect_bit_concat_update': ('bit.test', [(1, 319)]),
    'dialect_bit_shift_expr_insert': ('bit.test', [(1, 319)]),
    'dialect_bit_view_union': ('bit.test', [(1, 319)]),
    'dialect_bit_bin_oct': ('bit.test', [(1, 319)]),
    'dialect_bit_conv_col': ('bit.test', [(1, 319)]),
    'dialect_bit_ignore_strings': ('bit.test', [(1, 319)]),
    'dialect_bit_true_pred': ('bit.test', [(1, 319)]),
    'dialect_bit_bit_defaults': ('bit.test', [(1, 319)]),
    'dialect_bit_join_buffer15': ('bit.test', [(1, 319)]),
    'dialect_bit_sum_groupby': ('bit.test', [(1, 319)]),
    'dialect_bit_empty_bits': ('bit.test', [(1, 319)]),
    'dialect_obit_concat_or': ('other_bit.test', [(1, 163)]),
    'dialect_obit_position_bytes': ('other_bit.test', [(1, 163)]),
    'dialect_obit_shift1': ('other_bit.test', [(1, 163)]),
    'dialect_obit_shift8': ('other_bit.test', [(1, 163)]),
    'dialect_obit_cast_dec32_shl': ('other_bit.test', [(1, 163)]),
    'dialect_obit_xor_dec_sat': ('other_bit.test', [(1, 163)]),
    'dialect_obit_and_mixed': ('other_bit.test', [(1, 163)]),
    'dialect_obit_not_dec': ('other_bit.test', [(1, 163)]),
    'dialect_obit_bc_u64': ('other_bit.test', [(1, 163)]),
    'dialect_obit_bc_dec': ('other_bit.test', [(1, 163)]),
    'dialect_obit_bc_dbl': ('other_bit.test', [(1, 163)]),
    'dialect_i464_date_year_null': ('issue464.test', [(1, 46)]),
    'dialect_i464_addtime_cols': ('issue464.test', [(1, 46)]),
    'dialect_i464_daysecond_add': ('issue464.test', [(1, 46)]),
    'dialect_i464_daysecond_sub_date': ('issue464.test', [(1, 46)]),
    'dialect_i464_from_unixtime': ('issue464.test', [(1, 46)]),
    'dialect_i464_time_fn': ('issue464.test', [(1, 46)]),
    'dialect_i464_timetosec_todays': ('issue464.test', [(1, 46)]),
    'dialect_i464_toseconds': ('issue464.test', [(1, 46)]),
    'dialect_adddate_scalar_days': ('AddDate_function.test', [(1, 33)]),
    'dialect_adddate_scalar_negsec': ('AddDate_function.test', [(1, 33)]),
    'dialect_adddate_col_days': ('AddDate_function.test', [(1, 33)]),
    'dialect_adddate_col_negdays': ('AddDate_function.test', [(1, 33)]),
    'dialect_adddate_col_neghour': ('AddDate_function.test', [(1, 33)]),
    'dialect_lz4_types': ('lz4.test', [(1, 45)]),
    'dialect_load_dates': ('load.test', [(1, 10)]),
    'dialect_func_bit_dec17': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_dec10_1': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_dec10_0': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_double': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_varshift': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_where_sel': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_where_or': ('func_bit.test', [(1, 109)]),
    'dialect_func_bit_where_and': ('func_bit.test', [(1, 109)]),
    'dialect_issue301_truthy_or': ('issue301.test', [(1, 236)]),
    'dialect_issue301_strnum': ('issue301.test', [(1, 236)]),
    'dialect_issue301_nullsafe': ('issue301.test', [(1, 236)]),
    'dialect_issue301_fardate': ('issue301.test', [(1, 236)]),
    'dialect_issue301_emptystr': ('issue301.test', [(1, 236)]),
    'dialect_issue301_corrmax': ('issue301.test', [(1, 236)]),
    'dialect_issue301_notexists': ('issue301.test', [(1, 236)]),
    'dialect_issue1173_timebits': ('issue1173.test', [(1, 22)]),
    'dialect_issue1173_dtbits': ('issue1173.test', [(1, 22)]),
    'dialect_issue415': ('issue415.test', [(1, 38)]),
    'dialect_issue475': ('issue475.test', [(1, 16)]),
    'dialect_issue429': ('issue429.test', [(1, 17)]),
    'dialect_issue845': ('issue845.test', [(1, 47)]),
    'dialect_issue848': ('issue848.test', [(1, 42)]),
    'dialect_issue962': ('issue962.test', [(1, 20)]),
    'dialect_issue995': ('issue995.test', [(1, 22)]),
    'dialect_issue502_2': ('issue502-2.test', [(1, 15)]),
    'dialect_ts_fn_battery': ('type_timestamp.test', [(1, 127)]),
    'dialect_ts_unix_epoch': ('type_timestamp.test', [(1, 127)]),
    'dialect_ts_implicit_group': ('type_timestamp.test', [(1, 127)]),
    'dialect_ts_groupby_minmax': ('type_timestamp.test', [(1, 127)]),
    'dialect_ts_tz_display': ('type_timestamp.test', [(1, 56)]),
    'dialect_ts_tz_redisplay': ('type_timestamp.test', [(1, 56)]),
    'dialect_ts_compact_literals': ('type_timestamp.test', [(1, 56)]),
    'dialect_ts_tz_between': ('type_timestamp.test', [(1, 56)]),
    'dialect_show_databases': ('show_db_table.test', [(1, 48)]),
    'dialect_show_tables_created': ('show_db_table.test', [(1, 48)]),
    'dialect_show_tables_empty': ('show_db_table.test', [(1, 48)]),
    'dialect_show_tables_temp_excl': ('show_db_table.test', [(1, 48)]),
    'dialect_alter_v1_crossdb_rename': ('alter_table_v1.test', [(1, 60)]),
    'dialect_alter_v1_crossdb_target': ('alter_table_v1.test', [(1, 60)]),
    'dialect_issue975': ('issue975.test', [(1, 26)]),
    'dialect_date_formats': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_castdt': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_timepart': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_bad': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_maybe': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_literal': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_lenient': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_ordname': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_join': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_in': ('date_formats.test', [(1, 172)]),
    'dialect_date_formats_time_in': ('date_formats.test', [(1, 172)]),
    'dialect_char_length': ('char_length_function.test', [(15, 16), (19, 25)]),
    'dialect_coalesce_ascii': ('coalesce_ascii_func.test', [(16, 17), (20, 20), (22, 22), (28, 29), (33, 44)]),
    'dialect_if_strcmp': ('if_function.test', [(17, 18), (21, 25)]),
    'dialect_in_withpk': ('in_withpk.test', [(1, 27), (29, 31), (33, 41), (86, 126)]),
    'dialect_derived_table': ('derived_table.test', [(1, 41)]),
    'dialect_hash_join': ('hash_join.test', [(1, 107)]),
    'dialect_orquery': ('orquery.test', [(1, 20)]),
    'dialect_various_subquery': ('various_subquery.test', [(1, 67)]),
    'dialect_avg_distinct': ('avg_function.test', [(1, 24)]),
    'dialect_case_function': ('case_function.test', [(14, 15), (22, 23)]),
    'dialect_concat_null': ('concat.test', [(1, 21)]),
    'dialect_inner_join': ('inner_join.test', [(1, 70)]),
    'dialect_like_columns': ('like_not_like.test', [(1, 25)]),
    'dialect_multi_join': ('multi_join.test', [(1, 35)]),
    'dialect_null_funcs': ('null_functions.test', [(16, 17), (20, 21), (23, 27), (30, 33), (35, 35), (39, 41)]),
    'dialect_semi_join': ('semi-join.test', [(1, 45)]),
    'dialect_sum_distinct': ('sum_function.test', [(1, 24)]),
    'dialect_union_decimal': ('union_case.test', [(1, 34)]),
    'dialect_aliases': ('aliases.test', [(1, 54)]),
    'dialect_between_and': ('between_and.test', [(1, 37)]),
    'dialect_case_groupby': ('case_when.test', [(36, 52)]),
    'dialect_date_arith': ('date_formats_func.test', [(49, 54), (58, 65)]),
    'dialect_delete_agg': ('delete_all_rows.test', [(15, 33), (58, 73)]),
    'dialect_div': ('div_func.test', [(1, 35)]),
    'dialect_expr_vars': ('select_expressions.test', [(15, 31), (34, 47)]),
    'dialect_group_concat': ('group_concat.test', [(1, 28)]),
    'dialect_having': ('having.test', [(1, 32)]),
    'dialect_in_subquery': ('in_subquery.test', [(1, 80)]),
    'dialect_left_join': ('left_join.test', [(1, 36)]),
    'dialect_limit': ('select_limit.test', [(1, 74)]),
    'dialect_select_basic': ('select.test', [(21, 30)]),
    'dialect_select_distinct': ('select_distinct.test', [(1, 33)]),
    'dialect_select_group_by': ('select_group_by.test', [(1, 116)]),
    'dialect_union': ('union.test', [(1, 50)]),
    'dialect_upsert': ('insert_update.test', [(9, 41)]),
    'dialect_various_join': ('various_join.test', [(1, 77)]),
    'dialect_where': ('where_conditions.test', [(1, 46), (48, 79)]),
    'dialect_order_by': ('order_by.test', [(10, 25)]),
    'dialect_min_function': ('min_function.test', [(14, 21)]),
    'dialect_max_function': ('max_function.test', [(14, 21)]),
    'dialect_casewhen': ('casewhen.test', [(11, 17)]),
    'dialect_orquery1': ('orquery1.test', [(11, 18)]),
    'dialect_group_concat2': ('group_concat2.test', [(11, 19)]),
    'dialect_substr': ('substr_function.test', [(15, 48)]),
    'dialect_substr_date': ('substr_function.test', [(15, 48)]),
    'dialect_left_right': ('left_right_func.test', [(17, 31)]),
    'dialect_mid_function': ('mid_function.test', [(15, 31)]),
    'dialect_replace_func': ('replace_func.test', [(13, 22)]),
    'dialect_md5_function': ('md5_function.test', [(15, 34)]),
    'dialect_strings_like': ('strings.test', [(13, 18), (34, 43), (45, 117)]),
    'dialect_flow_control': ('flow_control_function.test', [(15, 44)]),
    'dialect_day_function': ('day_function.test', [(15, 16), (19, 23)]),
    'dialect_year_function': ('year_function.test', [(14, 30)]),
    'dialect_week_default': ('week_function.test', [(14, 55)]),
    'dialect_week_mode2': ('week_function.test', [(14, 55)]),
    'dialect_week_mode5': ('week_function.test', [(14, 55)]),
    'dialect_week_mode7': ('week_function.test', [(14, 55)]),
    'dialect_weekday': ('weekday_function.test', [(14, 29)]),
    'dialect_dayname': ('dayname_function.test', [(15, 16), (19, 23)]),
    'dialect_dayofyear': ('dayofyear_function.test', [(15, 16), (19, 23)]),
    'dialect_hour': ('hour_function.test', [(15, 31)]),
    'dialect_last_day': ('last_day_function.test', [(15, 31)]),
    'dialect_timediff': ('timediff_function.test', [(15, 35)]),
    'dialect_period_diff': ('period_diff.test', [(52, 61), (65, 68), (86, 90)]),
    'dialect_timestampdiff': ('timestampdiff_function.test', [(15, 62)]),
    'dialect_timestampadd': ('timestampadd_function.test', [(15, 61)]),
    'dialect_escape': ('escape.test', [(14, 64), (67, 87)]),
    'dialect_left_fn': ('left_function.test', [(1, 29)]),
    'dialect_right_fn': ('right_function.test', [(1, 29)]),
    'dialect_substring_fn': ('substring_function.test', [(1, 51)]),
    'dialect_ctas_types': ('ctas.test', [(1, 52)]),
    'dialect_signed_boundary': ('signed_boundary.test', [(1, 56)]),
    'dialect_integer_range': ('integer_range.test', [(1, 236)]),
    'dialect_integer_range_int8': ('integer_range.test', [(1, 236)]),
    'dialect_zerofill': ('zerofill.test', [(1, 64)]),
    'dialect_truncate': ('truncate_table.test', [(1, 89)]),
    'dialect_replace': ('replace.test', [(1, 67)]),
    'dialect_time_fn': ('time_function.test', [(1, 35)]),
    'dialect_time_fn_lit': ('time_function.test', [(1, 35)]),
    'dialect_sec_to_time': ('func_sec_to_time.test', [(1, 22)]),
    'dialect_addtime': ('AddTime_function.test', [(1, 32)]),
    'dialect_addtime_lit': ('AddTime_function.test', [(1, 32)]),
    'dialect_conv_fn': ('convert_conv_func.test', [(1, 47)]),
    'dialect_conv_lit': ('convert_conv_func.test', [(1, 47)]),
    'dialect_ssb_flat': ('ssb_small.test', [(1, 96)]),
    'dialect_insert_types': ('insert_all_data_types.test', [(1, 113)]),
    'dialect_range_pk': ('range.test', [(1, 589)]),
    'dialect_range_mid': ('range.test', [(1, 589)]),
    'dialect_range_notbetween': ('range.test', [(1, 589)]),
    'dialect_create_tmp': ('create_tmp.test', [(1, 107)]),
    'dialect_temporary': ('temporary.test', [(1, 30), (46, 50)]),
    'dialect_alter_column': ('alter_column.test', [(1, 133)]),
    'dialect_alter_table1': ('alter_table1.test', [(1, 138)]),
    'dialect_unsigned_all': ('unsigned.test', [(1, 112)]),
    'dialect_fn_inline': ('select_function_calls.test', [(1, 39), (42, 46)]),
    'dialect_insert_select': ('insert_select.test', [(1, 47)]),
    'dialect_unsigned_greatest': ('unsigned_greatest.test', [(1, 173)]),
    'dialect_unsigned_least': ('unsigned_least.test', [(1, 179)]),
    'dialect_alter_update': ('alter_update.test', [(1, 27)]),
    'dialect_alter_delete': ('alter_delete.test', [(1, 29)]),
    'dialect_yearweek': ('yearweek_function.test', [(1, 64)]),
    'dialect_weekofyear': ('weekofyear_function.test', [(1, 35)]),
    'dialect_dayofmonth': ('dayofmonth_function.test', [(1, 26)]),
    'dialect_date_fn': ('date_function.test', [(1, 26)]),
    'dialect_empty_string_not_null': ('empty_string_not_null.test', [(1, 71)]),
    'dialect_insert_on_dup': ('insert_on_duplicate_update.test', [(1, 27)]),
    'dialect_update_join': ('update_join.test', [(1, 33)]),
    'dialect_update_join_left': ('update_join.test', [(1, 33)]),
    'dialect_delete_join': ('delete_join.test', [(1, 28)]),
    'dialect_delete_join_left': ('delete_join.test', [(1, 28)]),
    'dialect_unsigned_type': ('unsigned_type.test', [(1, 116)]),
    'dialect_out_of_range': ('out_of_range_issue1151.test', [(1, 194)]),
    'dialect_bigint_unsigned': ('bigint_unsigned.test', [(28, 56), (60, 64), (68, 73), (79, 108), (118, 129)]),
    'dialect_bigint_unsigned_mod': ('bigint_unsigned.test', [(28, 56), (60, 64), (68, 73), (79, 108), (118, 129)]),
    'dialect_auto_increment': ('auto_increment.test', [(1, 81)]),
    'dialect_auto_inc_seed': ('init_auto_increment_value.test', [(1, 48)]),
    'dialect_delete_battery': ('delete.test', [(62, 149), (212, 217), (239, 245)]),
    'dialect_update_v1': ('update_v1.test', [(13, 29), (31, 48), (87, 97)]),
    'dialect_double_float': ('double_float.test', [(1, 97)]),
    'dialect_select_order_by': ('select_order_by.test', [(1, 110)]),
    'dialect_unsigned_math': ('unsigned_math.test', [(1, 128)]),
    'dialect_select_from': ('select_from.test', [(1, 119)]),
    'dialect_aggregate': ('aggregate.test', [(1, 237)]),
    'dialect_charsets_a_first': ('different_charsets_a.test', [(1, 376)]),
    'dialect_charsets_a_last': ('different_charsets_a.test', [(1, 376)]),
    'dialect_charsets_b_mid': ('different_charsets_b.test', [(1, 538)]),
    'dialect_charsets_b_last': ('different_charsets_b.test', [(1, 538)]),
    'dialect_proc_insert_select': ('insert_into_select.test', [(1, 101)]),
    'dialect_proc_insert_select_nn': ('insert_into_select.test', [(1, 101)]),
    'dialect_replace_into': ('replace_into.test', [(1, 100)]),
    'dialect_replace_into_mid': ('replace_into.test', [(1, 100)]),
    'dialect_ctas1': ('ctas1.test', [(1, 100)]),
    'dialect_ctas1_first': ('ctas1.test', [(1, 100)]),
    'dialect_select_joins': ('select_joins.test', [(1, 42)]),
    'dialect_select_joins_left': ('select_joins.test', [(1, 42)]),
    'dialect_select_joins_61': ('select_joins.test', [(1, 42)]),
    'dialect_delete_signed_where': ('delete_signed.test', [(1, 201)]),
    'dialect_delete_signed_3vl': ('delete_signed.test', [(1, 201)]),
    'dialect_delete_signed_colcmp': ('delete_signed.test', [(1, 201)]),
    'dialect_update_signed': ('update_signed.test', [(1, 200)]),
    'dialect_update_signed_final': ('update_signed.test', [(1, 200)]),
    'dialect_group_order': ('select_order_by_group_by.test', [(1, 85)]),
    'dialect_group_order_limit': ('select_order_by_group_by.test', [(1, 85)]),
    'dialect_group_order_multi': ('select_order_by_group_by.test', [(1, 85)]),
    'dialect_group_order_null': ('select_order_by_group_by.test', [(1, 85)]),
    'dialect_composite_pk': ('composite_primary_key.test', [(1, 25)]),
    'dialect_func_math_format': ('func_math.test', [(1, 176)]),
    'dialect_func_math_unsigned_cast': ('func_math.test', [(1, 176)]),
    'dialect_func_math_format_u64': ('func_math.test', [(1, 176)]),
    'dialect_func_math_sqrt': ('func_math.test', [(1, 176)]),
    'dialect_func_math_truncate': ('func_math.test', [(1, 176)]),
    'dialect_func_math_mod': ('func_math.test', [(1, 176)]),
    'dialect_func_math_pow': ('func_math.test', [(1, 176)]),
    'dialect_func_math_mod_huge': ('func_math.test', [(1, 176)]),
    'dialect_insert_alltypes': ('insert.test', [(1, 475)]),
    'dialect_insert_oldvalues': ('insert.test', [(1, 475)]),
    'dialect_insert_defaults': ('insert.test', [(1, 475)]),
    'dialect_insert_set_defaults': ('insert.test', [(1, 475)]),
    'dialect_insert_null_multirow': ('insert.test', [(1, 475)]),
    'dialect_insert_selfjoin_feed': ('insert.test', [(1, 475)]),
    'dialect_insert_view_upsert': ('insert.test', [(1, 475)]),
    'dialect_insert_through_view': ('insert.test', [(1, 475)]),
    'dialect_insert_temptable_view': ('insert.test', [(1, 475)]),
    'dialect_alter_modify_show': ('alter_table.test', [(1, 71)]),
    'dialect_alter_modify_show_final': ('alter_table.test', [(1, 71)]),
    'dialect_alter_null_show': ('alter_table_null.test', [(1, 60)]),
    'dialect_alter_null_show_final': ('alter_table_null.test', [(1, 60)]),
    'dialect_alter_mix_show': ('alter_table_mix_use.test', [(1, 91)]),
    'dialect_alter_mix_show_final': ('alter_table_mix_use.test', [(1, 91)]),
    'dialect_alter_negative_show': ('alter_table_negative.test', [(1, 48)]),
    'dialect_alter_v1_order': ('alter_table_v1.test', [(1, 41)]),
    'dialect_alter_v1_autoinc': ('alter_table_v1.test', [(1, 41)]),
    'dialect_load_65k_pk_dedup': ('issue1263.test', [(1, 118)]),
    'dialect_load_65k_skip30': ('issue1263.test', [(1, 118)]),
    'dialect_load_double_enclosed': ('issue1263.test', [(1, 118)]),
    'dialect_load_ragged_error': ('issue1263.test', [(1, 118)]),
    'dialect_ts_union_ts': ('issue880.test', [(1, 130), (134, 204)]),
    'dialect_ts_union_datetime': ('issue880.test', [(1, 130), (134, 204)]),
    'dialect_varchar_union_ts': ('issue880.test', [(1, 130), (134, 204)]),
    'dialect_ts_union_varchar': ('issue880.test', [(1, 130), (134, 204)]),
    'dialect_issue405': ('issue405.test', [(1, 16)]),
    'dialect_issue417': ('issue417.test', [(1, 16)]),
    'dialect_issue430': ('issue430.test', [(1, 16)]),
    'dialect_issue433': ('issue433.test', [(1, 16)]),
    'dialect_issue467': ('issue467.test', [(1, 16)]),
    'dialect_issue736': ('issue736.test', [(1, 18)]),
    'dialect_issue496': ('issue496.test', [(1, 20)]),
    'dialect_issue1625': ('issue1625.test', [(1, 21)]),
    'dialect_issue281': ('issue281.test', [(1, 21)]),
    'dialect_issue1363': ('issue1363.test', [(1, 22)]),
    'dialect_issue1385': ('issue1385.test', [(1, 22)]),
    'dialect_issue502': ('issue502.test', [(1, 22)]),
    'dialect_issue1510': ('issue1510.test', [(1, 23)]),
    'dialect_issue441': ('issue441.test', [(1, 24)]),
    'dialect_issue1564': ('issue1564.test', [(1, 27)]),
    'dialect_issue515': ('issue515.test', [(1, 17)]),
    'dialect_issue431': ('issue431.test', [(1, 16)]),
    'dialect_issue469': ('issue469.test', [(1, 16)]),
    'dialect_issue468': ('issue468.test', [(1, 17)]),
    'dialect_issue1942': ('issue1942.test', [(1, 19)]),
    'dialect_issue1942_1': ('issue1942.test', [(1, 19)]),
    'dialect_issue446': ('issue446.test', [(1, 5)]),
    'dialect_issue1361': ('issue1361.test', [(1, 29)]),
    'dialect_issue1708': ('issue1708.test', [(1, 34)]),
    'dialect_issue981': ('issue981.test', [(1, 27)]),
    'dialect_issue938': ('issue938.test', [(1, 28)]),
    'dialect_issue1864': ('issue1864.test', [(1, 32)]),
    'dialect_issue1402': ('issue1402.test', [(1, 43)]),
    'dialect_issue1402_1': ('issue1402.test', [(1, 43)]),
    'dialect_create_db': ('create_db.test', [(1, 52)]),
    'dialect_dropdb': ('dropdb.test', [(1, 4)]),
    'dialect_v_issue1157': ('issue1157.test', [(1, 45)]),
    'dialect_v_issue342': ('issue342.test', [(1, 47)]),
    'dialect_v_issue1079_366': ('issue1079_366.test', [(1, 50)]),
    'dialect_v_issue1175': ('issue1175.test', [(1, 54)]),
    'dialect_v_issue971': ('issue971.test', [(1, 57)]),
    'dialect_v_issue767': ('issue767.test', [(1, 59)]),
    'dialect_v_alter_bit': ('alter_bit.test', [(1, 60)]),
    'dialect_v_issue947': ('issue947.test', [(1, 60)]),
    'dialect_v_insert_select_from': ('insert_select_from.test', [(1, 62)]),
    'dialect_v_issue1912': ('issue1912.test', [(1, 81)]),
    'dialect_v_issue1931': ('issue1931.test', [(1, 81)]),
    'dialect_v_issue763': ('issue763.test', [(1, 81)]),
    'dialect_v_issue1394': ('issue1394.test', [(1, 83)]),
    'dialect_v_issue1938': ('issue1938.test', [(1, 44)]),
    'dialect_v_issue964': ('issue964.test', [(1, 52)]),
    'dialect_v_issue282': ('issue282.test', [(1, 75)]),
    'dialect_v_issue1861': ('issue1861.test', [(1, 78)]),
    'dialect_issue1070': ('issue1070.test', [(1, 21)]),
    'dialect_implicit_group_empty': ('issue1784.test', [(1, 158)]),
    'dialect_implicit_group': ('issue1784.test', [(1, 158)]),
    'dialect_replace_composite_pk': ('issue1152.test', [(1, 20)]),
    'dialect_derived_substr_group': ('issue1258.test', [(1, 46)]),
    'dialect_bit_literals': ('bit_type.test', [(1, 54)]),
    'dialect_bit_strings': ('bit_type.test', [(1, 54)]),
    'dialect_nonfull_groupby': ('issue1107.test', [(1, 60)]),
    'dialect_bit_ops_logic': ('bit_type.test', [(1, 4), (56, 102), (205, 205)]),
    'dialect_bit_coalesce': ('bit_type.test', [(1, 4), (56, 102), (205, 205)]),
    'dialect_bit_charset_fns': ('bit_type.test', [(1, 4), (56, 102), (205, 205)]),
    'dialect_load_alter_default': ('issue1865.test', [(1, 29)]),
    'dialect_load_nullword': ('issue1153.test', [(1, 85)]),
    'dialect_load_notnull_default': ('issue1153.test', [(1, 85)]),
    'dialect_load_set_override': ('issue1153.test', [(1, 85)]),
    'dialect_load_optenclosed_text': ('issue1153.test', [(1, 85)]),
    'dialect_hex_utf8': ('issue1169.test', [(1, 63)]),
    'dialect_unsigned_battery': ('unsigned_support_issue1267.test', [(1, 279)]),
    'dialect_unsigned_agg5': ('unsigned_support_issue1267.test', [(1, 279)]),
    'dialect_unsigned_nonstrict': ('unsigned_support_issue1267.test', [(1, 279)]),
    'dialect_outfile_roundtrip': ('unsigned_support_issue1267.test', [(1, 279)]),
    'dialect_load_skip': ('issue1000.test', [(1, 112)]),
    'dialect_load_setvar': ('issue1000.test', [(1, 112)]),
    'dialect_load_defaults': ('issue1000.test', [(1, 112)]),
    'dialect_load_autoinc': ('issue1000.test', [(1, 112)]),
    'dialect_load_logfile': ('issue1000.test', [(1, 112)]),
    'dialect_autoinc_load': ('init_auto_increment_value.test', [(1, 63)]),
    'dialect_std_floor': ('std_test.test', [(1, 121)]),
    'dialect_std_bigint': ('std_test.test', [(1, 121)]),
    'dialect_std_varsamp': ('std_test.test', [(1, 121)]),
    'dialect_load_ragged': ('issue1209.test', [(1, 26)]),
    'dialect_load_enclosed': ('issue1209.test', [(1, 26)]),
    'dialect_load_ssb': ('issue852.test', [(1, 57)]),
    'dialect_load_join': ('unsigned_join.test', [(1, 50)]),
    'dialect_load_join_anti': ('unsigned_join.test', [(1, 50)]),
    'dialect_cast_signed': ('cast_data_types.test', [(1, 35)]),
    'dialect_cast_char': ('cast_data_types.test', [(1, 35)]),
    'dialect_cast_decimal': ('cast_data_types.test', [(1, 35)]),
    'dialect_precision_strict': ('select_precision.test', [(1, 43)]),
    'dialect_precision_round': ('select_precision.test', [(1, 43)]),
    'dialect_precision_exact': ('select_precision.test', [(1, 43)]),
    'dialect_precision_div': ('select_precision.test', [(1, 43)]),
}

SCRIPT_ALIASES = """\
--source include/have_tianmu.inc

--echo #
--echo # aliases test case
--echo #

--disable_warnings
DROP DATABASE IF EXISTS aliases_test;
--enable_warnings

CREATE DATABASE aliases_test;
USE aliases_test;

CREATE TABLE t1
(
 t1_tinyint TINYINT DEFAULT 0,
 t1_int INT DEFAULT NULL,
 t1_bigint BIGINT,
 t1_decimal DECIMAL(5,2),
 t1_text TEXT,
 t1_char CHAR(5),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=Tianmu;
INSERT INTO t1 VALUES(NULL, NULL, NULL, NULL, '', '', '', NULL);
INSERT INTO t1 VALUES(1, 11, 987654321, 122.32, repeat('z', 20), 'aaa', repeat('a', 20), '1111-11-09 11:11:11');
INSERT INTO t1 VALUES(0, 12, 887654321, 222.32, repeat('y', 20), 'aaa', repeat('b', 20), '1111-11-11 11:11:12');
INSERT INTO t1 VALUES(1, -12, -987654321, -122.32, repeat('z', 20), 'bbb', repeat('a', 20), '1111-11-10 11:11:10');
INSERT INTO t1 VALUES(0, -11, -887654321, -222.32, repeat('x', 20), 'bbb', repeat('b', 20), '1111-11-1 11:11:19');

SELECT * FROM t1;

SELECT COUNT(*) AS 'Total Rows' FROM t1;
SELECT SUM(t1_int*t1_int) AS 'Sum of Squares of Integer values' FROM t1;
SELECT t1_int 'Serial no', t1_text 'Name of the Book', t1_datetime 'Publish Date' FROM t1;
SELECT CONCAT(t1_char, t1_text, t1_varchar) 'Concatinating String Columns' FROM t1;
SELECT t1_tinyint AS 'Boolean value' FROM t1;
--disable_warnings
SELECT t1_tinyint 'Tinyint', t1_bigint 'Big Int', t1_decimal 'Decimal', t1_text AS 'Text', t1_varchar AS 'Varchar', t1_datetime AS 'Date' FROM t1 WHERE 'Decimal' >= -300 ORDER BY 'Date';
SELECT COUNT(*) AS 'Total rows' FROM t1 AS table1 , t1 AS table2 WHERE table1.t1_int = table2.t1_int;
--enable_warnings
SELECT table1.t1_tinyint, table2.t1_int FROM t1 AS table1 JOIN t1 AS table2 ON table1.t1_int = table2.t1_int;

CREATE TABLE t2(col1 INT, col2 TEXT)ENGINE=Tianmu;
INSERT INTO t2 VALUES(1, repeat('s',20)),(2, repeat('o',20)),(3, 'sss'),(4, 'ooo');
CREATE TABLE t3(col1 INT, col2 DATETIME)ENGINE=Tianmu;
INSERT INTO t3 VALUES(1, '2020-2-2'),(2, '2020-3-3');

SELECT table1.col1, table1.col2 AS 'Text from table1', table2.col2 AS 'Date from table2' FROM t2 AS table1 JOIN t3 AS table2 ON table1.col1 =  table2.col1; 
SELECT table1.col1, table1.col2 AS 'Text from table1', table2.col2 AS 'Date from table2' FROM t2 AS table1 LEFT JOIN t3 AS table2 ON table1.col1 =  table2.col1; 
SELECT table1.col1, table1.col2 AS 'Text from table1', table2.col2 AS 'Date from table2' FROM t2 AS table1 RIGHT JOIN t3 AS table2 ON table1.col1 =  table2.col1; 

# Clean UP
DROP DATABASE aliases_test;
"""

SCRIPT_BETWEEN_AND = """\
--source include/have_tianmu.inc

--echo #
--echo # Test BETWEEN..AND function
--echo #

--disable_warnings
DROP DATABASE IF EXISTS between_and_test;
--enable_warnings

CREATE DATABASE between_and_test;
USE between_and_test;

CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);
INSERT INTO t1 VALUES 
('', NULL, '1111-11-11', NULL),
('a', 12, '1212-12-12', 1.19691E+100),
('b', 13, '1313-3-13 13:13:13', 2.1961E+18),
('c', 14, '1414-4-14', 0.16191),
('d', 15, '2015-5-15 15:15:15', 1.971917);

select * from t1;

SELECT 1 BETWEEN 2 AND 3;
SELECT 2 BETWEEN 1 AND 3;
SELECT 2.1 BETWEEN 2 AND 3;
SELECT 'a' BETWEEN 'a' and 'b';
SELECT 'c' BETWEEN 'a' and 'b';

SELECT * FROM t1 WHERE a BETWEEN 'a' AND 'd' ORDER BY a;
SELECT * FROM t1 WHERE b BETWEEN 14 AND 15 ORDER BY a;
SELECT * FROM t1 WHERE c BETWEEN '1212-12-12' AND '1414-4-14' ORDER BY a;
SELECT * FROM t1 WHERE d BETWEEN 0 AND 2 ORDER BY a;
SELECT * FROM t1 WHERE a BETWEEN 'a' AND 'b' AND b BETWEEN 12 AND 15 ORDER BY a;

# Clean UP
DROP DATABASE between_and_test;
"""

SCRIPT_CASE_GROUPBY = """\
#
# using GROUP BY on CASE
#
create table t1 (a int);
insert into t1 values(1),(2),(3),(4);
select case a when 1 then 2 when 2 then 3 else 0 end as fcase, count(*) from t1 group by fcase order by fcase;
select case a when 1 then "one" when 2 then "two" else "nothing" end as fcase, count(*) from t1 group by fcase order by fcase;
drop table t1;

#
# Test MAX(CASE ... ) that can return null
#

create table t1 (row int not null, col int not null, val varchar(255) not null);
insert into t1 values (1,1,'orange'),(1,2,'large'),(2,1,'yellow'),(2,2,'medium'),(3,1,'green'),(3,2,'small');
select max(case col when 1 then val else null end) as color from t1 group by row;
drop table t1;
"""

SCRIPT_DATE_ARITH = """\
CREATE TABLE t1(t1_d DATE, t1_t TIME, t1_dt DATETIME);
INSERT INTO t1 VALUES(NULL, NULL, NULL);
#INSERT INTO t1 VALUES('0000-00-00', '00:00:00', '0000-00-00');
INSERT INTO t1 VALUES('2222-11-11', '12:12:12', '2020-11-11 12:12:12');
INSERT INTO t1 VALUES('2020-01-01', '11:11:11', '2020-12-31 12:34:56');
INSERT INTO t1 VALUES('2016-02-01', '11:11:11', '2017-02-01 12:12:12');

# func DATE_SUB
SELECT DATE_SUB('2017-09-04',INTERVAL 1 DAY) result;
SELECT DATE_SUB('2017-09-04',INTERVAL 3 HOUR) result;
SELECT DATE_SUB('2017-02-29', INTERVAL - 1 DAY) result;
SELECT DATE_SUB('03/07/2017', INTERVAL 1 DAY) result;
SELECT DATE_SUB(NULL, INTERVAL 1 DAY) result;
SELECT DATE_SUB('2017-03-30', INTERVAL 1 MONTH) result;
"""

SCRIPT_DELETE_AGG = """\
CREATE TABLE `column_type_test` (
 `c_tinyint` tinyint(4) DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint(6) DEFAULT NULL COMMENT 'smallint',
  `c_mediumint` mediumint(9) DEFAULT NULL COMMENT 'mediumint',
  `c_int` int(11) DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint(20) DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU;
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
select * from column_type_test;
select count(*) from column_type_test;
select max(c_int) from column_type_test;
select min(c_int) from column_type_test;
select avg(c_int) from column_type_test;
select sum(c_int) from column_type_test;
delete from column_type_test;
delete from column_type_test;
select * from column_type_test;
select count(*) from column_type_test;
select max(c_int) from column_type_test;
select min(c_int) from column_type_test;
select avg(c_int) from column_type_test;
select sum(c_int) from column_type_test;
"""

SCRIPT_DIV = """\
--source include/have_tianmu.inc

--echo #
--echo # Test DIV function
--echo #

--disable_warnings
DROP DATABASE IF EXISTS div_func_test;
--enable_warnings

CREATE DATABASE div_func_test;
USE div_func_test;

CREATE TABLE t1
(
 t1_INT INT,
 t1_DECIMAL DECIMAL(12,5)
 );
INSERT INTO t1 VALUES(1, 1234.567),(20, 111.2345),(24, 98765.4321);

SELECT t1_INT, t1_INT DIV 2 FROM t1 ORDER BY 1;
SELECT t1_INT, t1_INT DIV 2.4 FROM t1 ORDER BY 1;
SELECT t1_INT, t1_INT DIV 4.7 FROM t1 ORDER BY 1;
SELECT t1_DECIMAL, t1_DECIMAL DIV 2 FROM t1 ORDER BY 1;
SELECT t1_DECIMAL, t1_DECIMAL DIV 2.4 FROM t1 ORDER BY 1;
SELECT t1_DECIMAL, t1_DECIMAL DIV 4.7 FROM t1 ORDER BY 1;

SELECT t1_INT DIV 0 FROM t1 LIMIT 1;
SELECT t1_DECIMAL DIV 0 FROM t1 LIMIT 1;

SELECT 0 DIV t1_INT FROM t1 LIMIT 1;
SELECT 0 DIV t1_DECIMAL FROM t1 LIMIT 1;

# Clean UP
DROP DATABASE div_func_test;
"""

SCRIPT_GROUP_CONCAT = """\
--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS group_concat_test;
--enable_warnings

CREATE DATABASE group_concat_test;

USE group_concat_test;

CREATE TABLE `test_groupconcat_case` (
  `id` int(11) DEFAULT NULL,
  `name` text
) ENGINE=TIANMU;
insert into test_groupconcat_case values(1,'test');
insert into test_groupconcat_case values(1,'test1');
insert into test_groupconcat_case values(1,'test1');
insert into test_groupconcat_case values(2,'test');
insert into test_groupconcat_case values(3,'test1');
insert into test_groupconcat_case values(2,'test2');
select id,group_concat(name SEPARATOR ",") from test_groupconcat_case group by id;
select id,group_concat(name SEPARATOR ",") from test_groupconcat_case group by id order by id desc;
select id,group_concat(name SEPARATOR ":") from test_groupconcat_case group by id;
select id,group_concat(name order by name desc SEPARATOR ":") from test_groupconcat_case group by id;
select id,group_concat(distinct name SEPARATOR ":") from test_groupconcat_case group by id;
drop table test_groupconcat_case;

DROP DATABASE group_concat_test;
"""

SCRIPT_HAVING = """\
--echo #
--echo #  Test HAVING clause 
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS having_test;
--enable_warnings

CREATE DATABASE having_test;
USE having_test;

CREATE TABLE t1(col1 INT, col2 TEXT)ENGINE=tianmu;
INSERT INTO t1 VALUES(1, repeat('s',20)),(2, repeat('o',20)),(3, 'sss'),(4, 'ooo');
INSERT INTO t1 SELECT * FROM t1;
SELECT col2 FROM t1 GROUP BY col2 HAVING col2 LIKE '%o%' ORDER BY col2;
SELECT col1 FROM t1 GROUP BY col1 HAVING col1 > 1 ORDER BY col1;
SELECT col1, col2 FROM t1 GROUP BY col1, col2 HAVING col1 > 1 AND col2 LIKE '%o%' ORDER BY col1;
SELECT col1, col2 FROM t1 GROUP BY col1, col2 HAVING col1 > 1 OR col2 LIKE '%o%' ORDER BY col1;
#--error ER_INTERNAL_ERROR
#SELECT col1, col2, SUM(LENGTH(col2)) FROM t1 GROUP BY col1 HAVING col1 > 1 AND col2 LIKE '%o%' ORDER BY col1;

CREATE TABLE t2(col1 INT, col2 DATETIME)ENGINE=tianmu;
INSERT INTO t2 VALUES(1, '2020-2-2'),(2, '2020-3-3'),(5,'2020-6-6'),(6, '2020-7-7');
SELECT t1.col1, SUM(t1.col1*t2.col1) AS a FROM t1 JOIN t2 ON t1.col1 = t2.col1 GROUP BY t1.col1 HAVING a>1 ORDER BY t1.col1;
SELECT t1.col1, SUM(t1.col1*t2.col1) AS a FROM t1 LEFT JOIN t2 ON t1.col1 = t2.col1 GROUP BY t1.col1 HAVING a>1 ORDER BY t1.col1;
SELECT t1.col1, SUM(t1.col1*t2.col1) AS a FROM t1 RIGHT JOIN t2 ON t1.col1 = t2.col1 GROUP BY t1.col1 HAVING a>1 ORDER BY t1.col1;

# Clean UP
DROP DATABASE having_test;
"""

SCRIPT_IN_SUBQUERY = """\
--source include/have_tianmu.inc

--echo #
--echo # Test IN subquery
--echo #

--disable_warnings
drop database if exists in_subquery_test;
--enable_warnings
set optimizer_switch='semijoin=off';

create database in_subquery_test;
use in_subquery_test;

create table t1 (a int);
insert into t1 values (1), (2), (3), (4), (null);

create table t2 (b int, c int);
insert into t2 values (1, 100), (1, 101), (2, 200),
(3, 300), (3, 301), (3, 302), (null, null);

# Single column case
# IN subquery
# Basic tests
select * from t1 where a in (select b from t2);
select * from t1 where a in (select c from t2);
select * from t1 where (a+a) in (select (b+b) from t2);
select * from t1 where (a+1) in (select b from t2);
select * from t1 where hex(a*10) in (select hex(b*10) from t2);

# Correlated IN subquery
select * from t1 where a in (select b from t2 where t1.a=t2.c-299);

# Outer query containing additional WHERE predicates
select * from t1 where a is not null and a in (select b from t2);
select * from t1 where a in (select b from t2) and a is null;
select * from t1 where a in (select 2 from t2) and a in (select b from t2);
select * from t1 where a in (1,3) and a in (select b from t2);

# Nested IN predicates
select * from t1 where a in (select b from t2 where b in (select a from t1));
select * from t1 where a in (select b from t2 where b in (select a from t1 where a in (2,3)));
select * from t1 where a in (select b from t2 where b in (select a from t1 where a not in (2,3)));

# WHERE predicates in the IN subquery
select * from t1 where a in (select b from t2 where b=3);
select * from t1 where a in (select b from t2 where b=3 or c=200);
select * from t1 where a in (select b from t2 where b is not null);

# GROUP BY and HAVING predicates in the IN subquery
select * from t1 where a in (select b from t2 group by b);
select * from t1 where a in (select count(*) from t2 group by b);
select * from t1 where a in (select count(*) from t2 group by b having count(*) < 3);
select * from t1 where a in (select count(*) from t2 where b <> 2 group by b having count(*) < 3);

# IN subquery containing joins
select * from t1 where a in (select t1.b from t2 t1, t2 t2 where t1.b=t2.b);
select * from t1 where a in (select t1.b from t2 t1, t2 t2 where t1.b=t2.b and t1.b <> 3);

# Outer query containing joins
select * from t1 join t2 on t1.a=t2.b and t1.a in (select b from t2) order by 1,2,3;
select * from t1 join t2 on t1.a=t2.b and t1.a in (select b from t2) and t1.a=1;

# NOT IN subquery
# Basic tests
select * from t1 where a not in (select b from t2);
select * from t1 where a not in (select c from t2);
select * from t1 where (a+a) not in (select (b+b) from t2);
select * from t1 where (a+1) not in (select b from t2);
select * from t1 where hex(a*10) not in (select hex(b*10) from t2);

# Outer query containing additional WHERE predicates
select * from t1 where a is not null and a not in (select b from t2);
select * from t1 where a not in (select b from t2) and a is null;
select * from t1 where a not in (select 2 from t2) and a not in (select b from t2);
select * from t1 where a in (1,3) and a not in (select b from t2);

# Nested IN predicates
select * from t1 where a not in (select b from t2 where b not in (select a from t1 where a in (2,3)));
select * from t1 where a not in (select b from t2 where b not in (select a from t1 where a not in (2,3)));
"""

SCRIPT_LEFT_JOIN = """\
--source include/have_tianmu.inc

--echo #
--echo # Test of left join
--echo #

--disable_warnings
DROP DATABASE IF EXISTS left_join_test;
--enable_warnings

CREATE DATABASE left_join_test;
USE left_join_test;

create table t1 (a int);
create table t2 (a int);
create table t3 (a int);
create table t4 (a int);
insert into t1 values (1), (2), (3), (4);
insert into t2 values (2), (3), (4);
insert into t3 values (3), (4);
insert into t4 values (4);

select * from t1 left join t2 on t1.a=t2.a order by 1,2;
select * from t1 left join t2 on t1.a=t2.a where t2.a < 100 order by 1,2;
select * from t1 left join t2 on t1.a=t2.a where t2.a is null order by 1,2;

select * from t1 left join t2 on t1.a=t2.a left join t3 on t1.a=t3.a order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t1.a=t3.a where t2.a < 100 order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t1.a=t3.a where t2.a is null order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t1.a=t3.a where t3.a < 100 order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t1.a=t3.a where t3.a is null order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t2.a=t3.a order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t2.a=t3.a where t2.a < 100 order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t2.a=t3.a where t2.a is null order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t2.a=t3.a where t3.a < 100 order by 1,2,3;
select * from t1 left join t2 on t1.a=t2.a left join t3 on t2.a=t3.a where t3.a is null order by 1,2,3;
"""

SCRIPT_LIMIT = """\
--echo #
--echo # Test SELECT..LIMIT statement
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs_db2;
--enable_warnings

CREATE DATABASE mcs_db2;
USE mcs_db2;

#Test with mixed datatypes
CREATE TABLE t1
(
  t1_tinyint TINYINT DEFAULT 0,
  t1_int INT DEFAULT NULL,
  t1_bigint BIGINT,
  t1_double DOUBLE,
  t1_float FLOAT,
  t1_blob BLOB,
  t1_text TEXT,
  t1_char CHAR(1),
  t1_varchar VARCHAR(255) DEFAULT 'hello world!',
  t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t1 VALUES();
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) VALUES
(203685477580679, -3.797693231E+108, -7.402866E+18, repeat('a',20), repeat('a',25), 'a', '2020-10-10');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) VALUES
(203685477580680, -3.797693231E+108, -7.402866E+18, repeat('a',20), repeat('b',25), 'b', '1234-10-10');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) VALUES
(203685477580677, -3.797693231E+108, -7.402866E+18, repeat('a',20), repeat('b',25), 'c', '2020-10-11');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) VALUES
(203685477580678, -3.797693231E+108, -7.402866E+18, repeat('a',20), repeat('b',25), 'd', '2020-10-10');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) VALUES
(203685477580676, -3.797693231E+108, -7.402866E+18, repeat('a',20), repeat('b',25), 'e', '2020-10-13');

--sorted_result
SELECT t1_int,t1_blob,t1_datetime FROM t1 LIMIT 2;
--sorted_result
SELECT * FROM t1 LIMIT 2;
--sorted_result
SELECT * FROM t1 LIMIT 10;
--sorted_result
SELECT * FROM t1 ORDER BY t1_datetime LIMIT 5;

INSERT INTO t1 SELECT * FROM t1;

--sorted_result
SELECT MAX(t1_bigint) FROM t1 GROUP BY t1_text LIMIT 10;
--sorted_result
SELECT * FROM t1 WHERE t1_text like '%a%' LIMIT 10;
--sorted_result
SELECT * FROM t1 ORDER BY t1_bigint ASC LIMIT 0,1;
--sorted_result
SELECT * FROM t1 ORDER BY t1_bigint ASC LIMIT 1,1;
--sorted_result
SELECT * FROM t1 ORDER BY t1_bigint DESC LIMIT 1,4;
--sorted_result
#SELECT * FROM t1 LIMIT 0;

--error ER_PARSE_ERROR
SELECT * FROM t1 LIMIT @;
--error ER_PARSE_ERROR
SELECT * FROM t1 LIMIT -1;
--error ER_PARSE_ERROR
SELECT * FROM t1  LIMIT 'a';

# Clean UP
DROP DATABASE mcs_db2;
"""

SCRIPT_SELECT_BASIC = """\
CREATE TABLE t1 (
  Period smallint(4) DEFAULT '0000' NOT NULL,
  Varor_period smallint(4) DEFAULT '0' NOT NULL
)engine=tianmu;

INSERT INTO t1 VALUES (9410,9412);
  
select period from t1;
select * from t1;
select t1.* from t1;
"""

SCRIPT_SELECT_DISTINCT = """\
--source include/have_tianmu.inc

--echo #
--echo # SELECT DISTINCT
--echo #

--disable_warnings
DROP DATABASE IF EXISTS select_distinct_test;
--enable_warnings

CREATE DATABASE select_distinct_test;
USE select_distinct_test;

CREATE TABLE t1(col1 INT, col2 CHAR(5));
INSERT INTO t1 VALUES(NULL,''),(1,'a'),(1,'b'),(1,'c'),(2,'dd'),(3,'eee');
SELECT COUNT(DISTINCT col1) FROM t1;
SELECT COUNT(DISTINCT col2) FROM t1;
SELECT DISTINCT col1 FROM t1;
SELECT DISTINCT col1 FROM t1 ORDER BY col1 DESC;
SELECT DISTINCT col2 FROM t1;

CREATE TABLE t2(col1 INT);
INSERT INTO t2 SELECT DISTINCT col1 FROM t1;
SELECT * FROM t2;

CREATE TABLE t3 (name varchar(255));
INSERT INTO t3 VALUES ('aa'),('ab'),('ac'),('ad'),('ae');
SELECT DISTINCT * FROM t3;
SELECT DISTINCT name FROM t3 LIMIT 2;
SELECT DISTINCT 1 FROM t3 LIMIT 3;

# Clean UP
DROP DATABASE select_distinct_test;
"""

SCRIPT_SELECT_GROUP_BY = """\
--source include/have_tianmu.inc

#
# Test basic select...group by
#
--disable_warnings
DROP DATABASE IF EXISTS db1;
--enable_warnings

CREATE DATABASE db1;
USE db1;

CREATE TABLE t1
(
 t1_tinyint TINYINT DEFAULT 0,
 t1_int INT DEFAULT NULL,
 t1_bigint BIGINT,
 t1_double DOUBLE,
 t1_float FLOAT,
 t1_blob BLOB,
 t1_text TEXT,
 t1_char CHAR(1),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(203685477580676, -3.797693231E+108, -7.402866E+18, repeat('b',100), repeat('b',100), 'b', '2387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(303685477580676, -4.797693231, -8.402866, repeat('b',101), repeat('b',101), 'b', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685477580676, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);

--error 1055
SELECT * FROM t1 GROUP BY t1_tinyint;

SELECT COUNT(*) FROM t1 GROUP BY t1_tinyint;

--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_int;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_bigint;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_double;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_text;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_datetime;

--sorted_result
SELECT SUM(t1_bigint) FROM t1 GROUP BY t1_tinyint;
--sorted_result
SELECT SUM(t1_double) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT SUM(DISTINCT t1_double) FROM t1 GROUP BY t1_float;

#group by multiple columns
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_tinyint, t1_int, t1_bigint;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar, t1_datetime;

##along with where clause
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_blob IS NOT NULL GROUP BY t1_tinyint, t1_int, t1_bigint;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_int = 0 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_char IN ('a', 'b') GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_varchar LIKE '%world%' GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_bigint != 0 AND t1_int = 0 OR t1_tinyint IS NULL GROUP BY t1_varchar, t1_datetime;
##BUG!
##ERROR 1815 (HY000): Internal error: VARBINARY/BLOB in filter or function is not supported.
#--error 1815
SELECT COUNT(*) FROM t1 WHERE t1_blob IS NOT NULL OR t1_tinyint IS NULL GROUP BY t1_varchar;

##along with having
##BUG!
##1054: Unknown column 't1_char' in 'having clause'
--error 1054
SELECT COUNT(*) FROM t1 GROUP BY t1_tinyint, t1_int, t1_bigint HAVING t1_char = 'b';

#Clean up
DROP DATABASE IF EXISTS db1;

"""

SCRIPT_UNION = """\
--source include/have_tianmu.inc

--echo #
--echo # Test cases for UNION
--echo #

--disable_warnings
DROP DATABASE IF EXISTS union_test;
--enable_warnings

CREATE DATABASE union_test;
USE union_test;

--echo #
--echo # UNION for INT and INT SIGNED
--echo #

CREATE TABLE t1 (a INT, b INT SIGNED);
INSERT INTO t1 VALUES (-1, 1), (-1, 1), (-2, 2);
SELECT * FROM (SELECT * FROM t1 UNION SELECT * FROM t1) tttt ORDER BY b;
SELECT * FROM (SELECT a FROM t1 UNION SELECT b FROM t1) tttt ORDER BY a;
SELECT * FROM (SELECT b FROM t1 UNION SELECT a FROM t1) tttt ORDER BY b;
DROP TABLE t1;

--echo #
--echo # Multiple Columns Union
--echo #

CREATE TABLE t1 (a INT, b INT, c INT);
INSERT INTO t1 VALUES (-1, 1, 0), (-2, 2, 0), (-3, 3, 0), (-4, 4, 0), (-5, 5, 0), (-1, 1, 0), (-2, 2, 0), (-3, 3, 0), (-4, 4, 0), (-5, 5, 0);
SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) tttt ORDER BY b;
SELECT * FROM (SELECT a FROM t1 UNION ALL SELECT b FROM t1) tttt ORDER BY a;
SELECT * FROM (SELECT b FROM t1 UNION ALL SELECT a FROM t1) tttt ORDER BY b;
DROP TABLE t1;

--echo #
--echo # Same Int Type Union
--echo #

CREATE TABLE t1 (a INT SIGNED, b INT SIGNED);
INSERT INTO t1 VALUES (1, 1), (1, 1), (2, 1), (2, 1), (3, 2), (4, 2), (5, 2);
SELECT * FROM (SELECT a FROM t1 UNION SELECT b FROM t1) tttt ORDER BY a;
SELECT * FROM (SELECT b FROM t1 UNION SELECT a FROM t1) tttt ORDER BY b;
SELECT * FROM (SELECT * FROM t1 UNION SELECT * FROM t1) tttt ORDER BY a;
DROP TABLE t1;

CREATE TABLE t1 (a INT, b INT);
INSERT INTO t1 VALUES (-1, -1), (-1, -1), (2, 1), (2, 1), (3, 2), (4, 2), (5, 2);
SELECT * FROM (SELECT a FROM t1 UNION SELECT b FROM t1) tttt ORDER BY a;
SELECT * FROM (SELECT b FROM t1 UNION SELECT a FROM t1) tttt ORDER BY b;
"""

SCRIPT_UPSERT = """\
create table t1(a int primary key, b int);
insert into t1 values(1,1),(2,2),(3,3),(4,4),(5,5);
select * from t1;

--enable_info
insert into t1 values(4,14),(5,15),(6,16),(7,17),(8,18)
 on duplicate key update b=b+10;
--disable_info

select * from t1;
drop table t1;

--echo #
--echo # incorrect behavior with INSERT ... ON DUPL KEY UPDATE and VALUES
--echo #

CREATE TABLE t1
(
  a   BIGINT,
  b   BIGINT,
  PRIMARY KEY (a)
);

INSERT INTO t1 VALUES (45, 1) ON DUPLICATE KEY UPDATE b =
  IF(VALUES(b) > t1.b, VALUES(b), t1.b);
SELECT * FROM t1;
INSERT INTO t1 VALUES (45, 2) ON DUPLICATE KEY UPDATE b =
  IF(VALUES(b) > t1.b, VALUES(b), t1.b);
SELECT * FROM t1;
INSERT INTO t1 VALUES (45, 1) ON DUPLICATE KEY UPDATE b = 
  IF(VALUES(b) > t1.b, VALUES(b), t1.b);
SELECT * FROM t1;

"""

SCRIPT_VARIOUS_JOIN = """\
--source include/have_tianmu.inc

--echo #
--echo # Test of JOIN
--echo #

--disable_warnings
DROP DATABASE IF EXISTS various_join_test;
--enable_warnings

CREATE DATABASE various_join_test;

USE various_join_test;

create table t1 (a int, b int);
create table t2 (a int, b int);
create table t3 (a int, b int);
create table t4 (a int, b int);
create table t5 (a int, b int);
create table t6 (a int, b int);
create table t7 (a int, b int);
create table t8 (a int, b int);
create table t9 (a int, b int);

insert into t1 values (1, 3), (2, 3), (3, 4);
insert into t2 values (1, 2), (2, 4), (4, 5);
insert into t3 values (1, 2), (2, 3), (3, 4), (4, 5);
insert into t4 values (1, 3);
insert into t5 values (1, 2), (3, 4);
insert into t6 values (1, 2), (3, 4);
insert into t7 values (1, 3);
insert into t8 values (1, 3);
insert into t9 values (1, 2);

select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a) order by t4.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) where (t3.a = 1 or t3.a = 3) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) where (t3.a > 1) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t2.a = t3.a) left join t4 on (t3.a = t4.a and t1.b = t4.b) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t2.a = t3.a) left join t4 on (t3.a = t4.a and t2.b = t4.b) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b and t3.a > t1.a) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b and t3.a > t2.a and t3.a > t1.a) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b and t3.b > t2.a and t3.a < t1.b) order by t3.a;

# Below query is disabled until fixed #925
#select * from t1 left join t2 on (t1.a = t2.a) left join t3 on (t2.a = t3.a) left join t4 on (t4.a = t3.a) left join t5 on (t5.a = t2.a) left join t6 on (t5.a = t6.a and t6.a = t4.a) order by t6.a;

select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a and t2.a = t4.a) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) right join t4 on (t3.a = t4.a and t2.a = t4.a) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a) left join t4 on (t3.a = t4.a and t1.a = t4.a and t2.a = t4.a) order by t3.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a) right join t4 on (t3.a = t4.a and t1.a = t4.a and t2.a = t4.a) order by t4.a;

# Below query is disabled until fixed #925
#select * from t1 left join t2 on (t1.a = t2.a) left join t3 on (t2.a = t3.a) left join t4 on (t4.a = t3.a) left join t5 on (t5.a = t2.a) left join t6 on (t5.a = t6.a and t6.a = t4.a) left join t7 on (t7.a = t3.a) left join t8 on (t8.a = t7.a and t8.a = t2.a) order by t8.a;

select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a and t2.a = t4.a) left join t5 on (t4.a = t5.a and t3.b = t5.b) order by t5.a;
select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a and t2.a = t4.a) right join t5 on (t4.a = t5.a and t3.b = t5.b) order by t5.a;

# Below query is disabled until fixed #925
#select * from t1 left join t2 on (t1.a = t2.a) left join t3 on (t2.a = t3.a) left join t4 on (t4.a = t3.a) left join t5 on (t5.a = t2.a) left join t6 on (t5.a = t6.a and t6.a = t4.a) left join t7 on (t7.a = t3.a) left join t8 on (t8.a = t7.a and t8.a = t2.a) left join t9 on (t7.a = t9.a and t4.a = t9.a) order by t9.a;

select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a and t2.a = t4.a) right join t5 on (t4.a = t5.a and t3.b = t5.b) right join t6 on (t5.a = t6.a and t4.a = t6.a) order by t6.a;

# Below query is disabled until fixed #925
#select * from t1 inner join t2 on (t1.a = t2.a) right join t3 on (t1.a = t3.a and t2.b = t3.b) left join t4 on (t3.a = t4.a and t2.a = t4.a) right join t5 on (t4.a = t5.a and t3.b = t5.b) left join t6 on (t5.a = t6.a and t4.a = t6.a) order by t6.a;

drop table t1;
drop table t2;
drop table t3;
drop table t4;
drop table t5;
drop table t6;
drop table t7;
drop table t8;
drop table t9;

DROP DATABASE various_join_test;
"""

SCRIPT_WHERE = """\
--echo #
--echo # Test WHERE conditions
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS where_conditions_test;
--enable_warnings

CREATE DATABASE where_conditions_test;
USE where_conditions_test;

CREATE TABLE t1
(
 t1_tinyint TINYINT DEFAULT 0,
 t1_int INT DEFAULT NULL,
 t1_bigint BIGINT,
 t1_decimal DECIMAL(5,2),
 t1_text TEXT,
 t1_char CHAR(5),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t1 VALUES();
INSERT INTO t1 VALUES(NULL, NULL, NULL, NULL, '', '', '', NULL);
INSERT INTO t1 VALUES(1, 123456, 987654321, 122.32, repeat('z', 20), 'aaa', repeat('a', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(0, 1023456, 887654321, 222.32, repeat('y', 20), 'aaa', repeat('b', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(1, -123456, -987654321, -122.32, repeat('z', 20), 'bbb', repeat('a', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(0, -1023456, -887654321, -222.32, repeat('x', 20), 'bbb', repeat('b', 20), '1111-11-11 11:11:11');

SELECT * FROM t1;
SELECT * FROM t1 WHERE t1_int IS NULL;
SELECT * FROM t1 WHERE t1_tinyint = 0;
SELECT * FROM t1 WHERE t1_tinyint != 0;
SELECT * FROM t1 WHERE t1_bigint > 0;
SELECT * FROM t1 WHERE t1_bigint < 0;
SELECT * FROM t1 WHERE t1_decimal >= -122.22;
SELECT * FROM t1 WHERE t1_decimal <= -122.22;
SELECT * FROM t1 WHERE t1_text LIKE '%x%';
#bug ID: #829,Release the use case after the bug is resolved
#SELECT * FROM t1 WHERE t1_datetime IN ('1111-11-11 11:11:10','1111-11-13 0:0:0');
#bug ID:#829,Release the use case after the bug is resolved
#SELECT * FROM t1 WHERE t1_datetime IN ('1111-11-11 11:11:11','1111-11-13 0:0:0');
SELECT * FROM t1 WHERE t1_text LIKE '%x%' OR t1_varchar LIKE '%a%';
SELECT * FROM t1 WHERE t1_text LIKE '%x%' AND t1_varchar LIKE '%b%';

# for bug 1383: If the SQL syntax contains 1 = 2,the StoneDB's InnoDB storage engine maybe wrong result
CREATE TABLE `ttt` (
  `id` varchar(36) DEFAULT NULL,
  `c1` varchar(255) DEFAULT NULL,
  `c2` varchar(255) DEFAULT NULL
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

INSERT INTO ttt VALUES ('1', 'XXX', '2023'),('2', 'XXX', '2023'),('3', 'XXX', '2023');

select * from ttt where c2='2023' and 1=2;

select * from ttt where c2='2023' and 1=1;

select * from ttt where c2='2023' or 1=2;

select * from ttt where c2='2023' and 1=1;

# Clean UP
DROP DATABASE where_conditions_test;
"""

SCRIPT_EXPR_VARS = """\
CREATE TABLE t1(t1_int INT, t1_char CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES(1,'aaa'),(2,'aaa'),(3,'bbb'),(4,'ccc'),(5,'ddd');

SELECT (t1_int+1),(t1_int-1),(t1_int*2),(t1_int/10.3) FROM t1;
SELECT * FROM t1 WHERE t1_int <= 1 OR t1_char='aaa';
SELECT * FROM t1 WHERE t1_int <= 1 || t1_char='aaa';
SELECT * FROM t1 WHERE t1_int > 1 AND t1_char LIKE '%a%'; 
SELECT * FROM t1 WHERE t1_int > 1 && t1_char='aaa';

#bug:#796
#SELECT * FROM t1 WHERE t1_int NOT LIKE 1;

SELECT * FROM t1 WHERE t1_int != 1;
SELECT * FROM t1 WHERE t1_int BETWEEN 1 AND 5;
SELECT * FROM t1 WHERE t1_int NOT BETWEEN 2 AND 5;
SELECT * FROM t1 WHERE t1_int NOT IN (SELECT t1_int FROM t1 WHERE t1_int=1); 
SELECT * FROM t1 WHERE t1_char IN (SELECT t1_char FROM t1 WHERE t1_char='aaa');
SET @a=25;
SET @b=25;
SELECT @a+@b;
SELECT @a-@b;
SELECT @a/@b;
SELECT @a*@b;
SELECT @a>@b;
SELECT @a>=@b;
SELECT @a=@b;
SELECT @a!=@b;
SELECT @a<@b;
SELECT @a<=@b;
SELECT (@a*@b)/POW(@b,0.5);
SELECT (POW(@a,2)-@a)/@b;
"""

SCRIPT_AVG_DISTINCT = """\
--echo #
--echo # Test AVG as distributed aggregate function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs188_db;
--enable_warnings

CREATE DATABASE mcs188_db;
USE mcs188_db;

CREATE TABLE t1 (a INT, b CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(1, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, 'ddd'),(7, 'eee');

SELECT AVG(DISTINCT a) FROM t1;
SELECT AVG(DISTINCT a) FROM t1 GROUP BY b HAVING b = 'aaa';
SELECT b, AVG(DISTINCT a) FROM t1 GROUP BY b ORDER BY b DESC;
SELECT AVG(a) FROM t1;

# Clean UP
DROP DATABASE mcs188_db;
"""

SCRIPT_CASE_FUNCTION = """\
CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE)engine=tianmu;
INSERT INTO t1 VALUES ('', NULL, '1990-01-01', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SELECT (CASE WHEN a = 'a' THEN 0 ELSE 1 END) FROM t1;
SELECT (CASE WHEN 10 > 5 THEN 'True' ELSE 'False' END);
"""

SCRIPT_CONCAT_NULL = """\
--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS concat_test;
--enable_warnings

CREATE DATABASE concat_test;

USE concat_test;

CREATE TABLE `test_case` (
  `id` int(11) DEFAULT NULL,
  `name` text
) ENGINE=TIANMU;
insert into test_case values(1,'test');
insert into test_case (name) values('test2');
insert into test_case values(3,'test3');
select concat(id,name) from test_case;
drop table test_case;

DROP DATABASE concat_test;
"""

SCRIPT_INNER_JOIN = """\
--source include/have_tianmu.inc

--echo #
--echo # Test of inner join
--echo #

--disable_warnings
DROP DATABASE IF EXISTS inner_join_test;
--enable_warnings

CREATE DATABASE inner_join_test;

USE inner_join_test;

/* simple circular inner join `=` operator */
create table t1 (a int, b int);
create table t2 (b int, c int);
create table t3 (a int, c int);

insert into t1 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t2 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t3 values (2, 4), (3, 5), (4, 6), (5, 10), (6, 12);

select * from t1 inner join t2 on (t1.b = t2.b) inner join t3 on (t1.a = t3.a and t2.c = t3.c);

drop table t1;
drop table t2;
drop table t3;

/* simple circular inner join with `where` filter */
create table t1 (a int, b int);
create table t2 (b int, c int);
create table t3 (a int, c int);

insert into t1 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t2 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t3 values (2, 4), (3, 5), (4, 6), (5, 10), (6, 12);

select * from t1 inner join t2 on (t1.b = t2.b) inner join t3 on (t1.a = t3.a) where t2.c = t3.c;

drop table t1;
drop table t2;
drop table t3;

/* circular inner join with filter */
create table t1 (a int, b int, f int);
create table t2 (b int, c int);
create table t3 (a int, c int, f int);

insert into t1 values (1, 2, 1), (2, 3, 2), (3, 4, 3), (4, 5, 4), (5, 6, 5), (6, 7, 6);
insert into t2 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t3 values (2, 4, 1), (3, 5, 2), (4, 6, 4), (5, 10, 5), (6, 12, 6);

select * from t1 inner join t2 on (t1.b = t2.b) inner join t3 on (t1.a = t3.a and t2.c = t3.c) where t1.f > t3.f;

drop table t1;
drop table t2;
drop table t3;

/* circular `where` node inner join with filter */
create table t1 (a int, b int, f int);
create table t2 (b int, c int);
create table t3 (a int, c int, f int);

insert into t1 values (1, 2, 1), (2, 3, 2), (3, 4, 3), (4, 5, 4), (5, 6, 5), (6, 7, 6);
insert into t2 values (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7);
insert into t3 values (2, 4, 1), (3, 5, 2), (4, 6, 4), (5, 10, 5), (6, 12, 6);

select * from t1 inner join t2 on (t1.b = t2.b) inner join t3 on (t1.a = t3.a) where t2.c = t3.c and t1.f > t3.f;

"""

SCRIPT_LIKE_COLUMNS = """\
--source include/have_tianmu.inc

--echo #
--echo # This test tests the (NOT) LIKE test in filters that is added
--echo # to a FilterCommand in primproc.
--echo # This is a very rare situation, yet somehow I managed to trigger it.
--echo #

--disable_warnings
DROP DATABASE IF EXISTS like_not_like;
--enable_warnings

CREATE DATABASE like_not_like;
USE like_not_like;

CREATE TABLE tcs(d1 CHAR(6), d2 CHAR(6));

INSERT INTO tcs(d1, d2) VALUES ('a','a'), ('a', 'b');

SELECT 'stonedb like', d1, d2 FROM tcs WHERE (d1 LIKE d2);

SELECT 'stonedb not like', d1, d2 FROM tcs WHERE (d1 NOT LIKE d2);

# clean up
DROP DATABASE like_not_like;
"""

SCRIPT_MULTI_JOIN = """\
--source include/have_tianmu.inc

--echo #
--echo # right join/left join/inner join /full join
--echo #

--disable_warnings
DROP DATABASE IF EXISTS multi_join_test;
--enable_warnings

CREATE DATABASE multi_join_test;
USE multi_join_test;

drop table if exists all_datatype_table;
create table all_datatype_table(id int not null,c_intger integer,c_char char(10));

insert into all_datatype_table values(1,1000,1000);
insert into all_datatype_table values(2,2000,1000);
insert into all_datatype_table values(3,2001,null);
insert into all_datatype_table values(4,2002,'a');

select count(*) from all_datatype_table t1 right join all_datatype_table t2 on t1.id=t2.id
inner join all_datatype_table t3 on t1.id=t3.id
right join all_datatype_table t4 on t1.id=t4.id
left join all_datatype_table t5 on t1.id=t5.id
inner join all_datatype_table t6 on t1.id=t6.id
left join all_datatype_table t7 on t1.id=t7.id
right join all_datatype_table t8 on t1.id=t8.id
right join all_datatype_table t10 on t1.id=t10.id
right join all_datatype_table t11 on t1.id=t11.id
right join all_datatype_table t13 on t1.id=t13.id
right join all_datatype_table t15 on t1.id=t15.id
right join all_datatype_table t16 on t1.id=t16.id;

# Clean UP
"""

SCRIPT_NULL_FUNCS = """\
CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);
INSERT INTO t1 VALUES ('', NULL, '1990-01-01', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SELECT IFNULL(NULL, 'abc');
SELECT IFNULL(NULL, 123);
SELECT ISNULL(NULL);
SELECT ISNULL(1);
SELECT ISNULL('a');
SELECT NULLIF(1, 1);
SELECT NULLIF('abc', 'a');
SELECT a, ISNULL(a) FROM t1;
SELECT b, ISNULL(b) FROM t1;
SELECT c, ISNULL(c) FROM t1;
SELECT d, ISNULL(d) FROM t1;
SELECT a, IFNULL(a, 'Null Char') FROM t1;
SELECT a, NULLIF(a, 'c') FROM t1;
SELECT b, NULLIF(b, 15) FROM t1;
SELECT c, NULLIF(c, '2015-5-15') FROM t1;
"""

SCRIPT_SEMI_JOIN = """\
--source include/have_tianmu.inc
--disable_warnings
DROP DATABASE IF EXISTS test_db1;
--enable_warnings
CREATE DATABASE test_db1;
USE test_db1;

CREATE TABLE t1 (t1_int INT, t1_char CHAR(5), PRIMARY KEY (t1_int)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'eee'),(11, 'nnn');

# in subquery
SELECT t1_int FROM t1 WHERE t1_int IN (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int);

# exists subquery
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int);

# subquery and order by
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) ORDER BY t1_int;

# subquery and group by
SELECT t1_int, count(*) FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) GROUP BY t1_int;

drop table t1,t2;

# in/exists subquery without PRIMARY KEY
CREATE TABLE t1 (t1_int INT, t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'eee'),(11, 'nnn');

# in subquery
SELECT t1_int FROM t1 WHERE t1_int IN (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int);

# exists subquery
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int);

# subquery and order by
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) ORDER BY t1_int;

# subquery and group by
SELECT t1_int, count(*) FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) GROUP BY t1_int;

drop table t1,t2;
"""

SCRIPT_SUM_DISTINCT = """\
--echo #
--echo # Test SUM as distributed aggregate function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs189_db;
--enable_warnings

CREATE DATABASE mcs189_db;
USE mcs189_db;

CREATE TABLE t1 (a INT, b CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(1, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, 'ddd'),(7, 'eee');

SELECT SUM(DISTINCT a) FROM t1;
SELECT SUM(DISTINCT a) FROM t1 GROUP BY b HAVING b = 'aaa';
SELECT b, SUM(DISTINCT a) FROM t1 GROUP BY b ORDER BY b DESC;
SELECT SUM(a) FROM t1;

# Clean UP
DROP DATABASE mcs189_db;
"""

SCRIPT_UNION_DECIMAL = """\
--source include/have_tianmu.inc
--echo # MCOL-641 Union Test Cases
--echo # Once MCOL-5417 is supported, the errored out queries below should be fixed.

--disable_warnings
DROP DATABASE IF EXISTS union_case_test;
--enable_warnings

CREATE DATABASE union_case_test;
USE union_case_test;

SET SQL_MODE='ERROR_FOR_DIVISION_BY_ZERO,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';

CREATE TABLE cs1 (d1 DECIMAL(17), d2 DECIMAL(17,10), d3 DECIMAL(17,17)) ;
CREATE TABLE cs2 (d1 DECIMAL(17) UNSIGNED, d2 DECIMAL(17,10) UNSIGNED, d3 DECIMAL(17,17) UNSIGNED) ;

INSERT INTO cs1 VALUES (125, 1.25, 0.125);
INSERT INTO cs1 VALUES (-125, -1.25, -0.125);
INSERT INTO cs1 values (9999999999999998, 9999999.9999999998, 0.9999999999999998);
INSERT INTO cs1 values (99999999999999999, 9999999.9999999999, 0.99999999999999999);
INSERT INTO cs1 values (-9999999999999998, -9999999.9999999998, -0.9999999999999998);
INSERT INTO cs1 values (-99999999999999999, -9999999.9999999999, -0.99999999999999999);
#bug1868 select * from  cs1;
#bug1870 SELECT d1, d2, d3 FROM cs1 UNION SELECT d1, d2, d3 FROM cs1;

CREATE TABLE cs3 (d1 int, d2 int, d3 int) ;
INSERT INTO cs3 VALUES (12, 16, 56);
INSERT INTO cs3 VALUES (7, 6, 45);
INSERT INTO cs3 VALUES (0, 0, 0);
SELECT d1, d1, d2 FROM cs3 UNION SELECT d2, d3, d3 FROM cs3;

INSERT INTO cs2 VALUES (125, 1.25, 0.125);
INSERT INTO cs2 values (9999999999999998, 9999999.9999999998, 0.9999999999999998);
INSERT INTO cs2 values (99999999999999999, 9999999.9999999999, 0.99999999999999999);
"""

SCRIPT_DERIVED_TABLE = """\
--source include/have_tianmu.inc

--echo #
--echo # Test derived table
--echo # Author: shiz
--echo #

--disable_warnings
DROP DATABASE IF EXISTS derived_test;
--enable_warnings

CREATE DATABASE derived_test;
USE derived_test;

CREATE TABLE t1 (a INT, b CHAR(5));
CREATE TABLE t2 (a INT, b CHAR(5));

INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (NULL, ''),(1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'ccc'),(9, 'eee'),(11, 'nnn');

SELECT t1.a,t3.y FROM t1,(SELECT a AS y FROM t2 WHERE b='ccc') AS t3 WHERE t1.a = t3.y;
SELECT t1.a,t3.a FROM t1,(SELECT * FROM t2  WHERE b='ccc') t3 WHERE t1.a = t3.a;
SELECT t1.a,t3.a FROM t1 JOIN (SELECT * FROM t2  WHERE b='ccc') t3 ON t1.a = t3.a ORDER BY t1.a;
SELECT t1.a,t3.a FROM t1 LEFT JOIN (SELECT * FROM t2) t3 ON t1.a = t3.a ORDER BY t3.a;
SELECT t1.a,t3.a FROM t1 RIGHT JOIN (SELECT * FROM t2) t3 ON t1.a = t3.a ORDER BY 1;

# JOIN
CREATE TABLE t3 (a INT, b CHAR(5));
CREATE TABLE t4 (a INT, b CHAR(5));
INSERT INTO t3 SELECT * FROM t2;
INSERT INTO t4 SELECT * FROM t1;

SELECT t3.a, t.a FROM t3 JOIN (SELECT * FROM t2  WHERE b='ccc') t ON t.a = t3.a ORDER BY t.a;
SELECT t3.a, t.a FROM t3 LEFT JOIN (SELECT * FROM t2) t ON t.a = t3.a ORDER BY t3.a;
SELECT t3.a, t.a FROM t3 RIGHT JOIN (SELECT * FROM t2) t ON t.a = t3.a ORDER BY 1;
SELECT t4.a, t.a FROM t4 JOIN (SELECT * FROM t2  WHERE b='ccc') t ON t.a = t4.a ORDER BY t.a;
SELECT t4.a, t.a FROM t4 LEFT JOIN (SELECT * FROM t2) t ON t.a = t4.a ORDER BY t4.a;
SELECT t4.a, t.a FROM t4 RIGHT JOIN (SELECT * FROM t2) t ON t.a = t4.a ORDER BY 2;

# Clean UP
DROP DATABASE derived_test;
"""

SCRIPT_HASH_JOIN = """\
--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS hash_join_test;
--enable_warnings

CREATE DATABASE hash_join_test;

USE hash_join_test;

CREATE TABLE `test1` (
  `id` varchar(64) NOT NULL COMMENT 'ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

CREATE TABLE `test2` (
  `user_id` varchar(32) NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

CREATE TABLE `test3` (
  `id` varchar(32) NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

CREATE TABLE `test4` (
  `id` varchar(32) NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

insert test1 values('aaa');
insert test1 values('bbb');
insert test1 values('ccc');
insert test1 values('eee');

insert test2 values('aaa');
insert test2 values('bbb');
insert test2 values('ccc');
insert test2 values('fff');

insert test3 values('aaa');
insert test3 values('bbb');
insert test3 values('ccc');
insert test3 values('ddd');

insert test4 values('aaa');
insert test4 values('bbb');
insert test4 values('ccc');
insert test4 values('hhh');
insert test4 values('ggg');

select test1.id,test2.user_id  from test2,test1 where test2.user_id = test1.id ;

select test1.id,test2.user_id,test3.id  from test2,test1,test3 where test2.user_id = test1.id and test2.user_id = test3.id;

select test1.id,test2.user_id,test3.id,test4.id  from test2,test1,test3,test4 where test2.user_id = test1.id and test2.user_id = test3.id and test3.id = test4.id;

CREATE TABLE `t1` (
  `id` int NOT NULL COMMENT 'ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

CREATE TABLE `t2` (
  `user_id` int NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

CREATE TABLE `t3` (
  `id` int NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

CREATE TABLE `t4` (
  `id` int NOT NULL COMMENT '用户ID'
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

insert t1 values(101);
insert t1 values(103);
insert t1 values(103);
insert t1 values(201);

insert t2 values(101);
insert t2 values(102);
insert t2 values(103);
insert t2 values(202);

insert t3 values(101);
insert t3 values(102);
insert t3 values(103);
insert t3 values(203);

insert t4 values(101);
insert t4 values(102);
insert t4 values(103);
insert t4 values(204);
insert t4 values(205);

select t1.id,t2.user_id  from t2,t1 where t2.user_id = t1.id ;

select t1.id,t2.user_id,t3.id  from t2,t1,t3 where t2.user_id = t1.id and t2.user_id = t3.id;

select t1.id,t2.user_id,t3.id,t4.id  from t2,t1,t3,t4 where t2.user_id = t1.id and t2.user_id = t3.id and t3.id = t4.id;

drop table test1;
drop table test2;
drop table test3;
drop table test4;

drop table t1;
drop table t2;
drop table t3;
drop table t4;

DROP DATABASE hash_join_test;
"""

SCRIPT_ORQUERY = """\
--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS orquery_test;
--enable_warnings

CREATE DATABASE orquery_test;

USE orquery_test;

CREATE TABLE `test_or` (
  `id` int(11) DEFAULT NULL,
  `age` int(11) DEFAULT NULL
) ENGINE=TIANMU;
insert into test_or values(1,1);
insert into test_or values(2,2);
select count(*) from test_or where id=1 or age=2;
drop table test_or;

DROP DATABASE orquery_test;
"""

SCRIPT_VARIOUS_SUBQUERY = """\
--source include/have_tianmu.inc

--echo #
--echo # Test of various subqueries
--echo #

--disable_warnings
DROP DATABASE IF EXISTS various_subquery_test;
--enable_warnings

CREATE DATABASE various_subquery_test;

USE various_subquery_test;

CREATE TABLE t1 (a int, b int);

INSERT INTO t1 values (1, 1), (2, 1), (3, 2), (4, 2), (5, 2);

# Test subquery columns referenced/not-referenced in simple projections
SELECT "123" FROM (SELECT * FROM t1) q;
SELECT "123" FROM (SELECT "234" FROM t1) q;
SELECT a FROM (SELECT * FROM t1) q;
SELECT b FROM (SELECT * FROM t1) q;
SELECT a,b FROM (SELECT * FROM t1) q;
SELECT b,a FROM (SELECT * FROM t1) q;
SELECT a FROM (SELECT * FROM (SELECT * FROM (SELECT * FROM t1) q1) q2) q3;
SELECT b FROM (SELECT * FROM (SELECT * FROM (SELECT * FROM t1) q1) q2) q3;
SELECT a FROM (SELECT b,a FROM (SELECT * FROM t1) q1) q2;
SELECT b FROM (SELECT b,a FROM (SELECT * FROM t1) q1) q2;

# Test subquery columns referenced/not-referenced in group by and aggregates

SELECT "123" FROM (SELECT * FROM t1) q GROUP BY a ORDER BY a;
SELECT "123" FROM (SELECT * FROM t1) q GROUP BY b ORDER BY b;
SELECT "123" FROM (SELECT * FROM t1) q GROUP BY a,b ORDER BY a,b;
SELECT COUNT(a) FROM (SELECT * FROM t1) q GROUP BY a ORDER BY a;
SELECT COUNT(b) FROM (SELECT * FROM t1) q GROUP BY b ORDER BY b;
SELECT COUNT(a) FROM (SELECT * FROM t1) q GROUP BY b ORDER BY b;
SELECT COUNT(b) FROM (SELECT * FROM t1) q GROUP BY a ORDER BY a;
SELECT c1 FROM (SELECT a AS c1, COUNT(a) AS c2 FROM t1 GROUP BY c1) q ORDER BY c1;
SELECT c2 FROM (SELECT a AS c1, COUNT(a) AS c2 FROM t1 GROUP BY c1) q ORDER BY c2;
SELECT * FROM (SELECT a AS c1, COUNT(a) AS c2 FROM t1 GROUP BY c1) q ORDER BY c1,c2;

# Test subquery columns referenced/not-referenced in joins

SELECT tab1.a FROM t1 tab1 JOIN (SELECT * FROM t1) tab2 ON tab1.a=tab2.a ORDER BY tab1.a;
SELECT tab1.a FROM t1 tab1 JOIN (SELECT * FROM t1) tab2 ON tab1.b=tab2.b ORDER BY tab1.a;
SELECT tab1.a FROM t1 tab1 JOIN (SELECT * FROM t1) tab2 ON tab1.b=tab2.b and tab1.a=tab2.a ORDER BY tab1.a;
SELECT tab1.a, tab2.b FROM t1 tab1 JOIN (SELECT * FROM t1) tab2 ON tab1.a=tab2.a ORDER BY tab1.a,tab2.b;

# Test subquery columns referenced/not-referenced when subqueries contain unions

SELECT COUNT(a) FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q;
SELECT COUNT(b) FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q;
SELECT COUNT(b), COUNT(a) FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q;
SELECT COUNT(a) FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q GROUP BY b ORDER BY b;
SELECT q1.a FROM (SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q1_1) q1 JOIN
(SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q2_1) q2 ON q1.a=q2.a ORDER BY 1;
SELECT q1.a, q2.b FROM (SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q1_1) q1 JOIN
(SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t1) q2_1) q2 ON q1.a=q2.a ORDER BY 2 desc, 1 asc;

SELECT "123" FROM (SELECT * FROM t1) q GROUP BY b ORDER BY b;
SELECT "123" FROM (SELECT * FROM t1) q GROUP BY b;

# clean up

DROP DATABASE various_subquery_test;
"""

SCRIPT_IN_WITHPK = """\
--source include/have_tianmu.inc

--echo #
--echo # Test in subquery with pk
--echo #

--disable_warnings
DROP DATABASE IF EXISTS in_withpk_test;
--enable_warnings

CREATE DATABASE in_withpk_test;
USE in_withpk_test;

create table t0 (a int);
insert into t0 values (0),(1),(2),(3),(4),(5),(6),(7),(8),(9);

create table t1 (
  a int, 
  b int,
  primary key(a)
) ;
insert into t1 values (1,1),(3,3),(2,2);

create table t2 (
  a int,
  b int
) ;
select * from t1 order by 1;
select * from t2;
select * from t2 where b in (select a from t1);
create table t3 (
   a int, 
   b int,
   pk1 char(50), pk2 char(50), pk3 char(50),
   primary key(pk1, pk2, pk3)
) ;
insert into t3 select a,a, a,a,a from t0;

select * from t3 where b in (select a from t1);
CREATE TABLE test_table (
    id INT PRIMARY KEY,
    name VARCHAR(50)
);

INSERT INTO test_table (id, name) 
VALUES
    (1, 'Alice'),
    (2, 'Bob'),
    (3, 'Charlie'),
    (4, 'David');
INSERT INTO test_table (id, name)
VALUES
    (5, 'Alice'),
    (6, 'Bob'),
    (7, 'Charlie'),
    (8, NULL);

SELECT * FROM test_table WHERE id IN(SELECT id FROM test_table WHERE name LIKE '%b%');

SELECT * FROM test_table AS t1 WHERE NOT EXISTS (
    SELECT 1
    FROM test_table AS t2
    WHERE t1.id = t2.id
    AND t2.name LIKE '%b%'
);

SELECT * FROM test_table WHERE id NOT IN (
    SELECT id
    FROM test_table
    WHERE name LIKE '%b%'
);

SELECT * FROM test_table WHERE id NOT IN (
    SELECT id
    FROM test_table
    WHERE name LIKE '%b%'
);

# cleanup
drop database in_withpk_test;
"""

SCRIPT_CHAR_LENGTH = """\
CREATE TABLE t1 (a VARCHAR(20))engine=tianmu;
INSERT INTO t1 VALUES (repeat('a', 5)), (repeat('b', 10)), (repeat('c', 20));
SELECT CHAR_LENGTH('MariaDB');
SELECT CHAR_LENGTH(234);
SELECT CHAR_LENGTH('~12ab');
SELECT CHAR_LENGTH('1212-12-12');

SELECT a, CHAR_LENGTH(a) FROM t1 ORDER BY a;
SELECT a, CHARACTER_LENGTH(a) FROM t1 ORDER BY a;
"""

SCRIPT_COALESCE_ASCII = """\
CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);
INSERT INTO t1 VALUES ('', NULL, '1211-11-11', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SELECT COALESCE(NULL, NULL, NULL, 'stonedb', NULL, 'stonedbtianmu');
SELECT a, COALESCE(a, 'na') FROM t1;
CREATE TABLE t2 (a CHAR(1), b INT);
INSERT INTO t2 VALUES ('', NULL), ('m', 6), ('N', 5), ('o', 4);
SELECT ASCII(0);
SELECT ASCII(1);
SELECT ASCII(9);
SELECT ASCII('abc');
SELECT ASCII('a');
SELECT ASCII('A');
SELECT ASCII('z');
SELECT ASCII('~');
SELECT ASCII('-');

SELECT a, ASCII(a) FROM t2;
SELECT b, ASCII(b) FROM t2;
"""

SCRIPT_IF_STRCMP = """\
CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);
INSERT INTO t1 VALUES ('', NULL, '1990-01-01', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SELECT IF(10<20, 1, 2);
SELECT IF(STRCMP("hello","hi") = 0, "YES", "NO");

SELECT a, IF(a='b', 10, 20) AS result FROM t1;
SELECT b, IF(b<=13, 'Less than or equal to 13', 'Greater than 13') AS result FROM t1;
"""

SCRIPT_ORDER_BY = """\
create table t1 (a int, b int) ;
create table t2 (a int, b int) ;

insert into t1 values (1, 2), (1, 3), (1, 4), (2, 5), (2, 6), (2, 7);
insert into t2 values (1, 2), (1, 2), (1, 4), (2, 5), (2, 6), (2, 8);

select * from t1, t2 where t1.a = t2.a and t2.b = (select max(b) from t2 where t1.a = t2.a) order by t1.a,t1.b,t2.b;
select * from t1, t2 where t1.a = t2.a and t2.b < (select max(b) from t2 where t1.a = t2.a) order by t1.a,t1.b,t2.b;
select * from t1, t2 where t1.a = t2.a and t2.b > (select max(b) from t2 where t1.a = t2.a) order by t1.a,t1.b,t2.b;

select * from t1, t2 where t1.a = t2.a and t1.b = (select avg(t2.b) from t2 where t1.a = t2.a group by t2.a) order by t2.b;
select * from t1, t2 where t1.a = t2.a and t2.b < (select avg(t2.b) from t2 where t1.a = t2.a group by t2.a) order by t1.a,t1.b,t2.b;
select * from t1, t2 where t1.a = t2.a and t2.b > (select avg(t2.b) from t2 where t1.a = t2.a group by t2.a) order by t1.a,t1.b,t2.b;

drop table t1;
drop table t2;
"""

SCRIPT_MIN_FUNCTION = """\
CREATE TABLE t1 (a INT, b CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(1, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, 'ddd'),(7, 'eee');

SELECT MIN(DISTINCT a) FROM t1;
SELECT MIN(DISTINCT a) FROM t1 GROUP BY b HAVING b = 'aaa';
SELECT b, MIN(DISTINCT a) FROM t1 GROUP BY b ORDER BY b DESC;
SELECT MIN(a) FROM t1;
"""

SCRIPT_MAX_FUNCTION = """\
CREATE TABLE t1 (a INT, b CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(1, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, 'ddd'),(7, 'eee');

SELECT MAX(DISTINCT a) FROM t1;
SELECT MAX(DISTINCT a) FROM t1 GROUP BY b HAVING b = 'aaa';
SELECT b, MAX(DISTINCT a) FROM t1 GROUP BY b ORDER BY b DESC;
SELECT MAX(a) FROM t1;
"""

SCRIPT_CASEWHEN = """\
CREATE TABLE `test_case1` (
  `id` int(11) DEFAULT NULL,
  `age` int(11) DEFAULT NULL,
  `name` text
) ENGINE=TIANMU;
select id,case age when 2 then '1'  else name end from test_case1;
drop table test_case1;
"""

SCRIPT_ORQUERY1 = """\
CREATE TABLE `test_or` (
  `id` int(11) DEFAULT NULL,
  `name` varchar(11) DEFAULT NULL
) ENGINE=TIANMU;
insert into test_or values(1,'1');
insert into test_or values(2,'2');
select count(*) from test_or where id=1 or name='2';
drop table test_or;
"""

SCRIPT_GROUP_CONCAT2 = """\
CREATE TABLE `test_groupconcat2_case` (
  `id` int(11) DEFAULT NULL,
  `val` int(11)
) ENGINE=TIANMU;
insert into test_groupconcat2_case values(1, 22);
insert into test_groupconcat2_case values(1, 4);
select id,group_concat(val order by val desc SEPARATOR " ") from test_groupconcat2_case group by id;
select id,group_concat(distinct val SEPARATOR ":") from test_groupconcat2_case group by id;
drop table test_groupconcat2_case;
"""

SCRIPT_SUBSTR = """\
CREATE TABLE t1
(
 t1_INT INT,
 t1_DECIMAL DECIMAL(12,5),
 t1_TEXT TEXT,
 t1_DATE DATE,
 t1_TIME TIME
 )ENGINE=tianmu;
INSERT INTO t1 VALUES(103, 1234.5699, 'pqr stu vwx yz', '1997-12-12', '22:12:02');
INSERT INTO t1 VALUES(-7299, 111.99, 'abcde//fghijk//lm', '2001-1-1', '23:59:59');
INSERT INTO t1 VALUES(9913, 98765.4321, repeat('q00', 5), '09-12-11', '01:08:59');

SELECT SUBSTR('123456789', 5, 3) FROM t1 LIMIT 1;
SELECT SUBSTR('abcdefghij', 3, 5) FROM t1 LIMIT 1;
SELECT SUBSTR('pqr stu vwz', 3, 5) FROM t1 LIMIT 1;
SELECT SUBSTR('pqr stu vwz', 3) FROM t1 LIMIT 1;
SELECT SUBSTR('pqr stu vwz' FROM 3) FROM t1 LIMIT 1;
SELECT SUBSTR('11:12:13' FROM 4 FOR 2) FROM t1 LIMIT 1;
SELECT SUBSTR('11:12:13', 4, 2) FROM t1 LIMIT 1;

SELECT SUBSTR(t1_TEXT FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TEXT, 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TEXT FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TEXT, 3, 15) FROM t1 ORDER BY 1;

SELECT SUBSTR(t1_DATE FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_DATE, 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_DATE FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_DATE, 3, 15) FROM t1 ORDER BY 1;

SELECT SUBSTR(t1_TIME FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TIME, 3) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TIME FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTR(t1_TIME, 3, 15) FROM t1 ORDER BY 1;
"""

SCRIPT_LEFT_RIGHT = """\
CREATE TABLE t1 (`time_tk` INT(11) UNSIGNED NOT NULL) DEFAULT CHARSET=latin1;

INSERT INTO t1 VALUES
(2013113023),
(1900010100),
(2199123100),
(2199123100),
(2147483646),
(2147483647),
(2147483648);

SELECT LEFT(time_tk,6) AS time_tk_left FROM t1;
SELECT RIGHT(time_tk,6) AS time_tk_right FROM t1;

DROP TABLE IF EXISTS t1;
"""

SCRIPT_MID_FUNCTION = """\
CREATE TABLE t1 (a INT, b CHAR(35))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'tianmu engine'),(2, 'tianmu database');

SELECT b, MID(b,4,5) FROM t1;
SELECT b, MID(b,12,5) FROM t1;
SELECT b, MID(b,5,15) FROM t1;
SELECT b, MID(b,12,15) FROM t1;
SELECT b, MID(b,1,1) FROM t1;
SELECT b, MID(b,1,2) FROM t1;
SELECT b, MID(b,5,5) FROM t1;
SELECT b, MID(b,-2,5) FROM t1;
SELECT b, MID(b,-5,15) FROM t1;
SELECT b, MID(b,-15,15) FROM t1;
SELECT b, MID(b,0,0) FROM t1;
SELECT b, MID(b,1,0) FROM t1;
SELECT b, MID(b,0,1) FROM t1;
SELECT b, MID(b,-1,0) FROM t1;
"""

SCRIPT_REPLACE_FUNC = """\
CREATE TABLE t1 (a INT, b CHAR(20));
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'abcabc'),(3, 'cccbba'),(4, 'dddd'),(5, 'pqrs');

SELECT REPLACE('abbcccb', 'b', 'z');
SELECT REPLACE('xyz', 'z', 'ppp');

SELECT b, REPLACE(b, 'a', 'mcs') FROM t1 ORDER BY 1;
SELECT b, REPLACE(b, 'b', 'oo') FROM t1 ORDER BY 1;
SELECT b, REPLACE(b, 'pqrs', 'a') FROM t1 ORDER BY 1;
SELECT b, REPLACE(b, 'dd', 'n') FROM t1 ORDER BY 1;
"""

SCRIPT_MD5_FUNCTION = """\
CREATE TABLE t1
(
 t1_BIGINT BIGINT,
 t1_DOUBLE DOUBLE,
 t1_FLOAT FLOAT,
 t1_BLOB BLOB,
 t1_TEXT TEXT,
 t1_CHAR_1 CHAR(1),
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES(NULL, NULL, NULL, '', '', '', '1990-10-01');
INSERT INTO t1 VALUES(203685477580676, -3.797693231E+108, -7.402866E+18, repeat('b',10), repeat('b',10), 'b', '2387-11-08 11:22:30.123');

SELECT t1_BIGINT, MD5(t1_BIGINT) FROM t1 ORDER BY t1_BIGINT;
SELECT t1_DOUBLE, MD5(t1_DOUBLE) FROM t1 ORDER BY t1_DOUBLE;
SELECT t1_FLOAT, MD5(t1_FLOAT) FROM t1 ORDER BY t1_FLOAT;
SELECT t1_TEXT, MD5(t1_TEXT) FROM t1 ORDER BY t1_TEXT;
SELECT t1_CHAR_1, MD5(t1_CHAR_1) FROM t1 ORDER BY t1_CHAR_1;
SELECT t1_DATETIME, MD5(t1_DATETIME) FROM t1 ORDER BY t1_DATETIME;
"""

SCRIPT_STRINGS = """\
CREATE TABLE t1
(
  l_returnflag char(1) CHARACTER SET latin1 COLLATE latin1_bin,
  l_shipinstruct char(25) CHARACTER SET latin1 COLLATE latin1_bin,
  l_comment varchar(44) CHARACTER SET latin1 COLLATE latin1_bin
);

SELECT count(*) FROM t1 WHERE l_comment < l_shipinstruct;
SELECT count(*) FROM t1 WHERE l_comment <= l_shipinstruct;
SELECT count(*) FROM t1 WHERE l_comment >= l_shipinstruct;
SELECT count(*) FROM t1 WHERE l_comment > l_shipinstruct;
SELECT count(*) FROM t1 WHERE l_shipinstruct < l_comment;
SELECT count(*) FROM t1 WHERE l_shipinstruct <= l_comment;
SELECT count(*) FROM t1 WHERE l_shipinstruct >= l_comment;
SELECT count(*) FROM t1 WHERE l_shipinstruct > l_comment;

DROP TABLE t1;

# position expression
SELECT POSITION('4' IN '1234567890') = '4' AS "4";
SELECT POSITION('5' IN '1234567890') = '5' AS "5";

# string like
SELECT 'hawkeye' LIKE 'h%' AS "true";
SELECT 'hawkeye' NOT LIKE 'h%' AS "false";

SELECT 'hawkeye' LIKE 'H%' AS "false";
SELECT 'hawkeye' NOT LIKE 'H%' AS "true";

SELECT 'hawkeye' LIKE 'indio%' AS "false";
SELECT 'hawkeye' NOT LIKE 'indio%' AS "true";

SELECT 'hawkeye' LIKE 'h%eye' AS "true";
SELECT 'hawkeye' NOT LIKE 'h%eye' AS "false";

SELECT 'indio' LIKE '_ndio' AS "true";
SELECT 'indio' NOT LIKE '_ndio' AS "false";

SELECT 'indio' LIKE 'in__o' AS "true";
SELECT 'indio' NOT LIKE 'in__o' AS "false";

SELECT 'indio' LIKE 'in_o' AS "false";
SELECT 'indio' NOT LIKE 'in_o' AS "true";

# unused escape character
SELECT 'hawkeye' LIKE 'h%' ESCAPE '#' AS "true";
SELECT 'hawkeye' NOT LIKE 'h%' ESCAPE '#' AS "false";

SELECT 'indio' LIKE 'ind_o' ESCAPE '$' AS "true";
SELECT 'indio' NOT LIKE 'ind_o' ESCAPE '$' AS "false";

# escape character
SELECT 'h%' LIKE 'h#%' ESCAPE '#' AS "true";
SELECT 'h%' NOT LIKE 'h#%' ESCAPE '#' AS "false";

SELECT 'h%wkeye' LIKE 'h#%' ESCAPE '#' AS "false";
SELECT 'h%wkeye' NOT LIKE 'h#%' ESCAPE '#' AS "true";

SELECT 'h%wkeye' LIKE 'h#%%' ESCAPE '#' AS "true";
SELECT 'h%wkeye' NOT LIKE 'h#%%' ESCAPE '#' AS "false";

SELECT 'h%awkeye' LIKE 'h#%a%k%e' ESCAPE '#' AS "true";
SELECT 'h%awkeye' NOT LIKE 'h#%a%k%e' ESCAPE '#' AS "false";

SELECT 'indio' LIKE '_ndio' ESCAPE '$' AS "true";
SELECT 'indio' NOT LIKE '_ndio' ESCAPE '$' AS "false";

SELECT 'i_dio' LIKE 'i$_d_o' ESCAPE '$' AS "true";
SELECT 'i_dio' NOT LIKE 'i$_d_o' ESCAPE '$' AS "false";

SELECT 'i_dio' LIKE 'i$_nd_o' ESCAPE '$' AS "false";
SELECT 'i_dio' NOT LIKE 'i$_nd_o' ESCAPE '$' AS "true";

SELECT 'i_dio' LIKE 'i$_d%o' ESCAPE '$' AS "true";
SELECT 'i_dio' NOT LIKE 'i$_d%o' ESCAPE '$' AS "false";

# escape character same as pattern character
SELECT 'maca' LIKE 'm%aca' ESCAPE '%' AS "true";
SELECT 'maca' NOT LIKE 'm%aca' ESCAPE '%' AS "false";

SELECT 'ma%a' LIKE 'm%a%%a' ESCAPE '%' AS "true";
SELECT 'ma%a' NOT LIKE 'm%a%%a' ESCAPE '%' AS "false";

SELECT 'bear' LIKE 'b_ear' ESCAPE '_' AS "true";
SELECT 'bear' NOT LIKE 'b_ear' ESCAPE '_' AS "false";

SELECT 'be_r' LIKE 'b_e__r' ESCAPE '_' AS "true";
SELECT 'be_r' NOT LIKE 'b_e__r' ESCAPE '_' AS "false";

SELECT 'be_r' LIKE '__e__r' ESCAPE '_' AS "false";
SELECT 'be_r' NOT LIKE '__e__r' ESCAPE '_' AS "true";
"""

SCRIPT_FLOW_CONTROL = """\
create table conditiontest(a int) engine=tianmu;
insert into conditiontest values (1),(2),(3);
SELECT * FROM conditiontest;
SELECT a,
      CASE a
      WHEN 1 THEN 'one'
      WHEN 2 THEN 'two'
      ELSE 'three'
      END as caseresult
FROM conditiontest;

SELECT a,
      CASE a
      WHEN a=1 THEN 'one1'
      WHEN a=2 THEN 'two2'
      ELSE 'three3'
      END as caseresult
FROM conditiontest;

SELECT IF((2+3)>4,5,6);
SELECT IF((2+3)<5,5,6);

SELECT IFNULL(NULL,2);
SELECT IFNULL(1,0);

SELECT NULLIF (2,1);
SELECT NULLIF (2,2);
"""

SCRIPT_DAY_FUNCTION = """\
CREATE TABLE t1 (a DATE, b DATETIME)engine=tianmu;
INSERT INTO t1 VALUES ('1990-10-10', '1990-10-10 0:0:0'), ('1212-12-12', '1111-11-11 11:11:11'), ('3333-03-03', '3333-3-3 3:33:33');

SELECT DAY('1212-12-12 11:11:11');
SELECT DAY('2020-12-22');

SELECT a, DAY(a) FROM t1 ORDER BY 1;
SELECT b, DAY(b) FROM t1 ORDER BY 1;
"""

SCRIPT_YEAR_FUNCTION = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '2020-12-11 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '2002-02-21 05:28:37');

SELECT YEAR('1020-10-12') FROM t1 LIMIT 1;
SELECT YEAR('2120-05-22') FROM t1 LIMIT 1;
SELECT YEAR('1942-02-13 12:13:14') FROM t1 LIMIT 1;
SELECT YEAR('12:13:14') FROM t1 LIMIT 1;

SELECT t1_DATE, YEAR(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEAR(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEAR(t1_TIMESTAMP) FROM t1 ORDER BY 1;
"""

SCRIPT_WEEK_FUNCTION = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1987-01-01', '1997-11-21 01:00:50', '2087-12-21 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '2000-01-01 05:28:37');

SELECT WEEK('2020-10-12') FROM t1 LIMIT 1;
SELECT WEEK('2020-05-22') FROM t1 LIMIT 1;
SELECT WEEK('2020-02-13 12:13:14') FROM t1 LIMIT 1;
SELECT WEEK('12:13:14') FROM t1 LIMIT 1;

SELECT t1_DATE, WEEK(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 0) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 1) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 2) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 3) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 4) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 5) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 6) FROM t1 ORDER BY 1;
SELECT t1_DATE, WEEK(t1_DATE, 7) FROM t1 ORDER BY 1;

SELECT t1_DATETIME, WEEK(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 0) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 1) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 2) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 3) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 4) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 5) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 6) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEK(t1_DATETIME, 7) FROM t1 ORDER BY 1;

SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 0) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 1) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 2) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 3) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 4) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 5) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 6) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEK(t1_TIMESTAMP, 7) FROM t1 ORDER BY 1;
"""

SCRIPT_WEEKDAY_FUNCTION = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '2020-12-11 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '2002-02-21 05:28:37');

SELECT WEEKDAY('2020-10-12') FROM t1 LIMIT 1;
SELECT WEEKDAY('2020-10-13 12:13:14') FROM t1 LIMIT 1;
SELECT WEEKDAY('12:13:14') FROM t1 LIMIT 1;

SELECT t1_DATE, WEEKDAY(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEKDAY(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEKDAY(t1_TIMESTAMP) FROM t1 ORDER BY 1;
"""

SCRIPT_DAYNAME = """\
CREATE TABLE t1 (a DATE, b DATETIME)engine=tianmu;
INSERT INTO t1 VALUES ('1990-10-10', '1990-10-10 0:0:0'), ('1212-12-12', '1212-12-11 11:11:11'), ('3333-03-03', '3333-3-4 3:33:33');

SELECT DAYNAME('1212-12-12 11:11:11');
SELECT DAYNAME('2020-12-22');

SELECT a, DAYNAME(a) FROM t1 ORDER BY 1;
SELECT b, DAYNAME(b) FROM t1 ORDER BY 1;
"""

SCRIPT_DAYOFYEAR = """\
CREATE TABLE t1 (a DATE, b DATETIME)engine=tianmu;
INSERT INTO t1 VALUES ('1990-10-10', '1990-10-10 0:0:0'), ('1212-12-12', '1212-12-11 11:11:11'), ('3333-03-03', '3333-3-4 3:33:33');

SELECT DAYOFYEAR('1212-12-12 11:11:11');
SELECT DAYOFYEAR('2020-12-22');

SELECT a, DAYOFYEAR(a) FROM t1 ORDER BY 1;
SELECT b, DAYOFYEAR(b) FROM t1 ORDER BY 1;
"""

SCRIPT_HOUR = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIME TIME,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1991-05-30', '01:00:50', '2020-12-11 06:08:59');
INSERT INTO t1 VALUES('2991-10-13', '21:19:52', '1987-01-01 17:28:37');

SELECT HOUR('2020-02-21') FROM t1 LIMIT 1;
SELECT HOUR('11:12:13') FROM t1 LIMIT 1;
SELECT HOUR('2020/02/11 13:12:13') FROM t1 LIMIT 1;

SELECT t1_DATE, HOUR(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, HOUR(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_TIME, HOUR(t1_TIME) FROM t1 ORDER BY 1;
"""

SCRIPT_LAST_DAY = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '2020-12-11 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '1987-01-01 05:28:37');

SELECT LAST_DAY('2020-02-21') FROM t1 LIMIT 1;
SELECT LAST_DAY('11:12:13') FROM t1 LIMIT 1;
SELECT LAST_DAY('2020/02/11 11:12:13') FROM t1 LIMIT 1;

SELECT t1_DATE, LAST_DAY(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, LAST_DAY(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, LAST_DAY(t1_TIMESTAMP) FROM t1 ORDER BY 1;
"""

SCRIPT_TIMEDIFF = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIME TIME,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;
INSERT INTO t1 VALUES('2011-08-27', '22:12:02', '1997-12-12 22:12:02');
INSERT INTO t1 VALUES('2020-02-19', '23:59:59', '2001-1-1 23:59:59.65');
INSERT INTO t1 VALUES('1991-05-30', '01:37:50.871', '09-12-11 01:08:59');

SELECT TIMEDIFF('2011-3-3 1:12:22', '2011-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMEDIFF('20:28:30', '11:22:33.4455') FROM t1 LIMIT 1;

SELECT t1_DATE, TIMEDIFF(t1_DATE, '2008-02-19 22:22:22') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMEDIFF(t1_DATE, '22:22:22') FROM t1 ORDER BY 1;

SELECT t1_TIME, TIMEDIFF(t1_TIME, '2008-02-19 22:22:22') FROM t1 ORDER BY 1;
SELECT t1_TIME, TIMEDIFF(t1_TIME, '23:59:59') FROM t1 ORDER BY 1;

SELECT t1_DATETIME, TIMEDIFF(t1_DATETIME, '2001-02-19 22:22:22') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMEDIFF(t1_DATETIME, '22:22:22') FROM t1 ORDER BY 1;
"""

SCRIPT_PERIOD_DIFF = """\
SELECT PERIOD_DIFF(201808,199508);
SELECT PERIOD_DIFF(1601,1603);
SELECT PERIOD_DIFF(191602,191607);
SELECT PERIOD_DIFF(1916-02,1916-07);
SELECT PERIOD_DIFF(1602,9002);

CREATE TABLE t1 (a DECIMAL(10,1));
INSERT INTO t1 VALUES (200101.9);
SELECT a,PERIOD_DIFF(a, 200101) FROM t1;
DROP TABLE t1;

CREATE TABLE t1 (a DECIMAL(17,1));
INSERT INTO t1 VALUES (200101.9);
SELECT a,PERIOD_DIFF(a, 200101) FROM t1;
DROP TABLE t1;

CREATE TABLE t1 (a DOUBLE);
INSERT INTO t1 VALUES (9223372036854775807.0-1000);
INSERT INTO t1 VALUES (9223372036854775807.0+1000);
SELECT a, PERIOD_DIFF(200101,a) FROM t1 ORDER BY 2;
DROP TABLE t1;
"""

SCRIPT_TIMESTAMPDIFF = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;
INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '09-12-11 01:08:59');

SELECT TIMESTAMPDIFF(MICROSECOND, '2011-3-4 3:12:11.123', '2011-3-4 3:12:11.111') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(SECOND, '2012-3-3 1:12:22', '2013-3-4 3:12:18') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(MINUTE, '2012-3-3 1:12:22', '2013-3-4 3:12:18') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(HOUR, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(DAY, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(WEEK, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(MONTH, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(QUARTER, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;
SELECT TIMESTAMPDIFF(YEAR, '2012-3-3 1:12:22', '2013-3-4 3:12:11') FROM t1 LIMIT 1;

SELECT t1_DATE, TIMESTAMPDIFF(MICROSECOND, t1_DATE, '1991-05-30 00:00:00') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(SECOND, t1_DATE, '1991-05-30 00:00:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(MINUTE, t1_DATE, '1991-05-30 00:42:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(HOUR, t1_DATE, '1991-05-30 21:12:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(DAY, t1_DATE, '1991-05-31 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(WEEK, t1_DATE, '1991-06-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(MONTH, t1_DATE, '1991-06-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(QUARTER, t1_DATE, '1991-11-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPDIFF(YEAR, t1_DATE, '1999-05-30 1:12:55') FROM t1 ORDER BY 1;

SELECT t1_TIMESTAMP, TIMESTAMPDIFF(MICROSECOND, t1_TIMESTAMP, '1999-10-28 01:00:51') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(SECOND, t1_TIMESTAMP, '1999-10-28 00:00:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(MINUTE, t1_TIMESTAMP, '1999-10-28 00:42:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(HOUR, t1_TIMESTAMP, '1999-10-28 21:12:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(DAY, t1_TIMESTAMP, '1999-12-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(WEEK, t1_TIMESTAMP, '1999-06-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(MONTH, t1_TIMESTAMP, '1991-06-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(QUARTER, t1_TIMESTAMP, '1999-11-30 1:12:55') FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPDIFF(YEAR, t1_TIMESTAMP, '2999-05-30 1:12:55') FROM t1 ORDER BY 1;

SELECT t1_DATETIME, TIMESTAMPDIFF(MICROSECOND, t1_DATETIME, '09-12-11 01:09:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(SECOND, t1_DATETIME, '09-12-11 01:09:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(MINUTE, t1_DATETIME, '09-12-11 01:09:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(HOUR, t1_DATETIME, '09-12-11 11:08:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(DAY, t1_DATETIME, '09-12-1 01:08:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(WEEK, t1_DATETIME, '09-11-11 01:08:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(MONTH, t1_DATETIME, '09-02-11 01:08:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(QUARTER, t1_DATETIME, '2009-02-11 01:08:59') FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPDIFF(YEAR, t1_DATETIME, '19-12-11 01:08:59') FROM t1 ORDER BY 1;
"""

SCRIPT_TIMESTAMPADD = """\
CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;

INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '09-12-11 01:08:59');

SELECT TIMESTAMPADD(MICROSECOND, 3, '2011-3-4 3:12:11.123') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(SECOND, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(MINUTE, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(HOUR, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(DAY, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(WEEK, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(MONTH, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(QUARTER, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;
SELECT TIMESTAMPADD(YEAR, 3, '2012-3-3 1:12:22') FROM t1 LIMIT 1;

SELECT t1_DATE, TIMESTAMPADD(MICROSECOND, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(SECOND, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(MINUTE, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(HOUR, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(DAY, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(WEEK, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(MONTH, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(QUARTER, 3, t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, TIMESTAMPADD(YEAR, 3, t1_DATE) FROM t1 ORDER BY 1;

SELECT t1_TIMESTAMP, TIMESTAMPADD(MICROSECOND, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(SECOND, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(MINUTE, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(HOUR, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(DAY, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(WEEK, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(MONTH, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(QUARTER, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, TIMESTAMPADD(YEAR, 3, t1_TIMESTAMP) FROM t1 ORDER BY 1;

SELECT t1_DATETIME, TIMESTAMPADD(MICROSECOND, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(SECOND, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(MINUTE, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(HOUR, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(DAY, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(WEEK, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(MONTH, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(QUARTER, 3, t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIMESTAMPADD(YEAR, 3, t1_DATETIME) FROM t1 ORDER BY 1;
"""

SCRIPT_ESCAPE = r"""CREATE TABLE `st1` (
  `id` BIGINT(20) NOT NULL AUTO_INCREMENT,
  `name` VARCHAR(255) DEFAULT NULL,
  `uid` VARCHAR(11) DEFAULT NULL,
  PRIMARY KEY (`id`)
) DEFAULT CHARSET=utf8;

INSERT INTO st1 (NAME,uid) VALUES('zhangsan','hello');
INSERT INTO st1 (NAME,uid) VALUES('lisi_wu','world');
INSERT INTO st1 (NAME,uid) VALUES('wangwu%','world');
INSERT INTO st1 (NAME,uid) VALUES('%a','world');
INSERT INTO st1 (NAME,uid) VALUES('%_','world');
select * from st1;

SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "san", "%");

SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "%", "%");

SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "\%", "%");

SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "\%", "%");
SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "$%", "%") ESCAPE "$";

SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "\_", "%");
SELECT * FROM st1 WHERE NAME LIKE CONCAT("%", "a_", "%") ESCAPE "a";

SELECT * FROM st1 WHERE NAME LIKE "a%_" ESCAPE "a" ;
SELECT * FROM st1 WHERE NAME LIKE "a%a" ESCAPE "a" ;
SELECT * FROM st1 WHERE NAME LIKE "a%a_" ESCAPE "a";

drop table st1;
CREATE TABLE `st1` (
  `id` BIGINT(20) NOT NULL AUTO_INCREMENT,
  `name` VARCHAR(255) DEFAULT NULL,
  `uid` VARCHAR(11) DEFAULT NULL,
  PRIMARY KEY (`id`)
) DEFAULT CHARSET=utf8;

INSERT INTO st1 (NAME,uid) VALUES('123hello','hello');
INSERT INTO st1 (NAME,uid) VALUES('123hello123','world');
INSERT INTO st1 (NAME,uid) VALUES('hello123','world');
INSERT INTO st1 (NAME,uid) VALUES('_hello','world');

select * from st1;

select * from st1 where name like '%hello%';
select * from st1 where name like '_hello';
select * from st1 where name like 'hello12_';
select * from st1 where name like '/_hello' escape '/';


create table st2(id int ,column_2 varchar(10),column_3 varchar(10));
insert into st2 values(1,'_a\\\\','111111');
insert into st2 values(2,'12%','%12%');
insert into st2 values(3,'a_a','a%');
insert into st2 values(4,'_a\\','_12%');
insert into st2 values(5,'\\a','\\\\_a%12%');

select * from st2 where column_2 like '%\\\%' ;

select * from st2 where column_2 like '%\%' ;
select * from st2 where column_2 like '%\\%' ;

select * from st2 where column_2 like '%\_%' ;

select * from st2 where column_2 like '%?_%'  escape '?';

select * from st2 where column_2 like '%?_a\\%';
select * from st2 where column_2 like '%\_a\\%';

select * from st2 where column_2 like '%?_a?\%';
select * from st2 where column_2 like '%\_a\\%';
"""

SCRIPT_LEFT_FUNCTION = """--echo #
--echo # LEFT() function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS left_function;
--enable_warnings

CREATE DATABASE left_function;
USE left_function;

CREATE TABLE t1 (a INT, b CHAR(15))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'tianmu22222'),(2, 'tianmu'),(3, 'Innodb');

SELECT LEFT('tianmu22222 cs', 7) FROM t1 LIMIT 1;
SELECT LEFT('tianmu22222 cs', 8) FROM t1 LIMIT 1;
SELECT LEFT('tianmu22222 cs', 9) FROM t1 LIMIT 1;

SELECT b, LEFT(b, 0) FROM t1 ORDER BY 1;
SELECT b, LEFT(b, -1) FROM t1 ORDER BY 1;
SELECT b, LEFT(b, 6) FROM t1 ORDER BY 1;
SELECT b, LEFT(b, 9) FROM t1 ORDER BY 1;
SELECT b, LEFT(concat('mmm_', b), 10) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE left_function;
"""

SCRIPT_RIGHT_FUNCTION = """--echo #
--echo # RIGHT() function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS right_function;
--enable_warnings

CREATE DATABASE right_function;
USE right_function;

CREATE TABLE t1 (a INT, b CHAR(15))ENGINE=tianmu;
INSERT INTO t1 VALUES (NULL, ''),(1, 'tianmu'),(2, 'tainmu'),(3, 'Innodb');

SELECT RIGHT('tianmu cs', 2) FROM t1 LIMIT 1;
SELECT RIGHT('tianmu cs', 3) FROM t1 LIMIT 1;
SELECT RIGHT('tianmu cs', 4) FROM t1 LIMIT 1;

SELECT b, RIGHT(b, 0) FROM t1 ORDER BY 1;
SELECT b, RIGHT(b, -1) FROM t1 ORDER BY 1;
SELECT b, RIGHT(b, 6) FROM t1 ORDER BY 1;
SELECT b, RIGHT(b, 9) FROM t1 ORDER BY 1;
SELECT b, RIGHT(concat(b, '_mmm'), 10) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE right_function;
"""

SCRIPT_SUBSTRING_FUNCTION = """--echo #
--echo # SUBSTRING() function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS substring_function;
--enable_warnings

CREATE DATABASE substring_function;
USE substring_function;

CREATE TABLE t1
(
 t1_INT INT,
 t1_DECIMAL DECIMAL(12,5),
 t1_TEXT TEXT,
 t1_DATE DATE,
 t1_TIME TIME
 )ENGINE=tianmu;
INSERT INTO t1 VALUES(103, 1234.5699, 'pqr stu vwx yz', '1997-12-12', '22:12:02');
INSERT INTO t1 VALUES(-7299, 111.99, 'abcde//fghijk//lm', '2001-1-1', '23:59:59');
INSERT INTO t1 VALUES(9913, 98765.4321, repeat('q00', 5), '09-12-11', '01:08:59');

SELECT SUBSTRING('123456789', 5, 3) FROM t1 LIMIT 1;
SELECT SUBSTRING('abcdefghij', 3, 5) FROM t1 LIMIT 1;
SELECT SUBSTRING('pqr stu vwz', 3, 5) FROM t1 LIMIT 1;
SELECT SUBSTRING('pqr stu vwz', 3) FROM t1 LIMIT 1;
SELECT SUBSTRING('pqr stu vwz' FROM 3) FROM t1 LIMIT 1;
SELECT SUBSTRING('11:12:13' FROM 4 FOR 2) FROM t1 LIMIT 1;
SELECT SUBSTRING('11:12:13', 4, 2) FROM t1 LIMIT 1;

SELECT SUBSTRING(t1_TEXT FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TEXT, 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TEXT FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TEXT, 3, 15) FROM t1 ORDER BY 1;

SELECT SUBSTRING(t1_DATE FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_DATE, 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_DATE FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_DATE, 3, 15) FROM t1 ORDER BY 1;

SELECT SUBSTRING(t1_TIME FROM 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TIME, 3) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TIME FROM 3 FOR 15) FROM t1 ORDER BY 1;
SELECT SUBSTRING(t1_TIME, 3, 15) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE substring_function;
"""

SCRIPT_CTAS = """--source include/have_tianmu.inc

--disable_warnings

CREATE DATABASE ctastest;

USE ctastest;

CREATE TABLE `ctas_test` (
  `c_tinyint` tinyint DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint NOT NULL COMMENT 'smallint',
  `c_mediumint` mediumint DEFAULT NULL COMMENT 'mediumint',
  `c_int` int DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;

#
#CTAS TEST
#

INSERT INTO ctas_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
VALUES(1,2,3,4,5,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn'),
(2,3,4,5,6,5.3,10.89,105.084,'2016-02-26','2016-02-26 10:20:02','2016-02-25 05:20:02','10:20:02','stoneatom2','hello2','qweqeqweqweqw'),
(3,4,5,6,7,5.4,10.90,105.085,'2016-02-27','2016-02-27 10:20:03','2016-02-25 05:20:03','10:20:03','stoneatom3','hello3','asdfasdfsadfa');

SHOW CREATE TABLE ctas_test;

CREATE TABLE ctas_test1 AS SELECT * FROM ctas_test;

SHOW CREATE TABLE ctas_test1;

SELECT * FROM ctas_test1;

#
#END CLEAN
#

DROP TABLE  ctas_test, ctas_test1;

DROP DATABASE ctastest; 
"""

SCRIPT_SIGNED_BOUNDARY = """--source include/have_tianmu.inc

--echo #
--echo # Test signed boundary
--echo #

--disable_warnings
DROP DATABASE IF EXISTS signed_boundary;
--enable_warnings

CREATE DATABASE signed_boundary;
USE signed_boundary;
# int32 limit
CREATE TABLE int32_(c_max int, c_min int) engine = tianmu;
INSERT INTO int32_ values(-2147483647, 2147483647);
--error 1264
INSERT INTO int32_ values(-2147483648, 2147483647);
--error 1264
INSERT INTO int32_ values(-2147483647, 2147483648);
DROP TABLE int32_;

# int64 limit
CREATE TABLE int64_(c_max bigint, c_min bigint) engine = tianmu;
INSERT INTO int64_ values(-9223372036854775806, 9223372036854775807);
--error 1264
INSERT INTO int64_ values(-9223372036854775807, 9223372036854775807);
--error 1264
INSERT INTO int64_ values(-9223372036854775806, 9223372036854775808);
DROP TABLE int64_;

# fix issue #1344, select * from t where col = 9223372036854775807,1.797693134862315708e+308, -1.797693134862315708e+308
create table t1 (
    value64  bigint  not null,
    value32  integer          not null
    );

insert into t1 values(9223372036854775806, 1);
insert into t1 values(9223372036854775807, 2);
insert into t1 values(-9223372036854775806, 2);
select * from t1;
select * from t1 where value64= 9223372036854775807;
select * from t1 where value64= -9223372036854775806;
select * from t1 where value64 between 9223372036854775806 and 9223372036854775807;
drop table t1;

create table txxx(a double);
insert into txxx values(1.79769313486231570814527423731704357e+308);
insert into txxx values(-1.79769313486231570814527423731704357e+308);
select * from txxx;
select * from txxx where a = -1.7976931348623157e308;
select * from txxx where a = 1.7976931348623157e308;
select * from txxx where a between 1.7976931348623157e308 and 1.7976931348623157e308;
select * from txxx where a between -1.7976931348623157e308 and -1.7976931348623157e308;
drop table txxx;

DROP DATABASE signed_boundary;
"""

SCRIPT_INTEGER_RANGE = """--source include/have_tianmu.inc

--echo #
--echo # Test integer range
--echo #

--disable_warnings
DROP DATABASE IF EXISTS integer_range_test;
--enable_warnings

CREATE DATABASE integer_range_test;
USE integer_range_test;

--echo #
--echo # INT1 tinyint
--echo #

CREATE TABLE int1_tbl(f1 int1);
INSERT INTO int1_tbl(f1) VALUES ('0   ');
INSERT INTO int1_tbl(f1) VALUES ('  14 ');
INSERT INTO int1_tbl(f1) VALUES ('    -14');
INSERT INTO int1_tbl(f1) VALUES ('34.5');

# largest and smallest values
INSERT INTO int1_tbl(f1) VALUES ('-128');
INSERT INTO int1_tbl(f1) VALUES ('127');
INSERT INTO int1_tbl(f1) VALUES ('-127');
INSERT INTO int1_tbl(f1) VALUES ('126');

# out of range
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int1_tbl(f1) VALUES ('-129');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int1_tbl(f1) VALUES ('128');

# bad input values -- should give errors
--error 1264
INSERT INTO int1_tbl(f1) VALUES ('100000');
--error 1366
INSERT INTO int1_tbl(f1) VALUES ('asdf');
--error 1366
INSERT INTO int1_tbl(f1) VALUES ('    ');
--error 1366
INSERT INTO int1_tbl(f1) VALUES ('- 1234');
--error 1265
INSERT INTO int1_tbl(f1) VALUES ('4 444');
--error 1265
INSERT INTO int1_tbl(f1) VALUES ('123 dt');
--error 1366
INSERT INTO int1_tbl(f1) VALUES ('');
select * from int1_tbl;


--echo #
--echo # INT2 smallint
--echo #

CREATE TABLE int2_tbl(f1 int2);
INSERT INTO int2_tbl(f1) VALUES ('0   ');
INSERT INTO int2_tbl(f1) VALUES ('  1234 ');
INSERT INTO int2_tbl(f1) VALUES ('    -1234');
INSERT INTO int2_tbl(f1) VALUES ('34.5');

# largest and smallest values
INSERT INTO int2_tbl(f1) VALUES ('32767');
INSERT INTO int2_tbl(f1) VALUES ('32766');
INSERT INTO int2_tbl(f1) VALUES ('-32768');
INSERT INTO int2_tbl(f1) VALUES ('-32767');

# out of range
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int2_tbl(f1) VALUES ('32768');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int2_tbl(f1) VALUES ('-32769');

# bad input values -- should give errors
--error 1264
INSERT INTO int2_tbl(f1) VALUES ('100000');
--error 1366
INSERT INTO int2_tbl(f1) VALUES ('asdf');
--error 1366
INSERT INTO int2_tbl(f1) VALUES ('    ');
--error 1366
INSERT INTO int2_tbl(f1) VALUES ('- 1234');
--error 1265
INSERT INTO int2_tbl(f1) VALUES ('4 444');
--error 1265
INSERT INTO int2_tbl(f1) VALUES ('123 dt');
--error 1366
INSERT INTO int2_tbl(f1) VALUES ('');
select * from int2_tbl;

--echo #
--echo # INT3 mediumint
--echo #
CREATE TABLE int3_tbl(f1 int3);
INSERT INTO int3_tbl(f1) VALUES ('0   ');
INSERT INTO int3_tbl(f1) VALUES ('  14123 ');
INSERT INTO int3_tbl(f1) VALUES ('    -14123');
INSERT INTO int3_tbl(f1) VALUES ('3413.5');

# largest and smallest values
INSERT INTO int3_tbl(f1) VALUES ('-8388608');
INSERT INTO int3_tbl(f1) VALUES ('8388607');
INSERT INTO int3_tbl(f1) VALUES ('-8388607');
INSERT INTO int3_tbl(f1) VALUES ('8388606');

# out of range
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int3_tbl(f1) VALUES ('-8388609');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int3_tbl(f1) VALUES ('8388608');

# bad input values -- should give errors
--error 1264
INSERT INTO int3_tbl(f1) VALUES ('1000000000');
--error 1366
INSERT INTO int3_tbl(f1) VALUES ('asdf');
--error 1366
INSERT INTO int3_tbl(f1) VALUES ('    ');
--error 1366
INSERT INTO int3_tbl(f1) VALUES ('- 1234');
--error 1265
INSERT INTO int3_tbl(f1) VALUES ('4 444');
--error 1265
INSERT INTO int3_tbl(f1) VALUES ('123 dt');
--error 1366
INSERT INTO int3_tbl(f1) VALUES ('');
select * from int3_tbl;

--echo #
--echo # INT4 int[-2147483647, 2147483647]
--echo #

CREATE TABLE int4_tbl(f1 int4);
INSERT INTO int4_tbl(f1) VALUES ('   0  ');
INSERT INTO int4_tbl(f1) VALUES ('123456     ');
INSERT INTO int4_tbl(f1) VALUES ('    -123456');
INSERT INTO int4_tbl(f1) VALUES ('34.5');

# largest and smallest values
INSERT INTO int4_tbl(f1) VALUES ('2147483647');
INSERT INTO int4_tbl(f1) VALUES ('2147483646');
INSERT INTO int4_tbl(f1) VALUES ('-2147483647');
INSERT INTO int4_tbl(f1) VALUES ('-2147483646');

# out of range
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int4_tbl(f1) VALUES ('2147483648');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int4_tbl(f1) VALUES ('-2147483648');

# bad input values -- should give errors
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int4_tbl(f1) VALUES ('1000000000000');
--error 1366
INSERT INTO int4_tbl(f1) VALUES ('asdf');
--error 1366
INSERT INTO int4_tbl(f1) VALUES ('     ');
--error 1366
INSERT INTO int4_tbl(f1) VALUES ('   asdf   ');
--error 1366
INSERT INTO int4_tbl(f1) VALUES ('- 1234');
--error 1265
INSERT INTO int4_tbl(f1) VALUES ('123       5');
--error 1366
INSERT INTO int4_tbl(f1) VALUES ('');
select * from int4_tbl;

--echo #
--echo # INT8 bigint[-9223372036854775806, 9223372036854775807]
--echo #

CREATE TABLE int8_tbl(q1 int8, q2 int8);
INSERT INTO int8_tbl VALUES('  123   ','  456');
INSERT INTO int8_tbl VALUES('123   ','4567890123456789');
INSERT INTO int8_tbl VALUES('4567890123456789','123');
INSERT INTO int8_tbl VALUES(+4567890123456789,'4567890123456789');
INSERT INTO int8_tbl VALUES('+4567890123456789','-4567890123456789');

# largest and smallest values
INSERT INTO int8_tbl VALUES ('9223372036854775807','9223372036854775806');
INSERT INTO int8_tbl VALUES ('-9223372036854775806','-9223372036854775805');

# out of range
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int8_tbl VALUES ('-9223372036854775807','-9223372036854775807');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int8_tbl VALUES ('9223372036854775808','9223372036854775808');
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO int8_tbl VALUES ('-9223372036854775806','-9223372036854775807');

# bad inputs
--error 1366
INSERT INTO int8_tbl(q1) VALUES ('      ');
--error 1366
INSERT INTO int8_tbl(q1) VALUES ('xxx');
--error 1264
INSERT INTO int8_tbl(q1) VALUES ('3908203590239580293850293850329485');
--error 1264
INSERT INTO int8_tbl(q1) VALUES ('-1204982019841029840928340329840934');
--error 1366
INSERT INTO int8_tbl(q1) VALUES ('- 123');
--error 1265
INSERT INTO int8_tbl(q1) VALUES ('  345     5');
--error 1366
INSERT INTO int8_tbl(q1) VALUES ('');
INSERT INTO int8_tbl(q1) VALUES (null);
SELECT * FROM int8_tbl;

# int8/int8 cmp
SELECT * FROM int8_tbl WHERE q2 = 4567890123456789;
SELECT * FROM int8_tbl WHERE q2 <> 4567890123456789;
#bug1332 SELECT * FROM int8_tbl WHERE q2 < 4567890123456789;
SELECT * FROM int8_tbl WHERE q2 > 4567890123456789;
#bug1332 SELECT * FROM int8_tbl WHERE q2 <= 4567890123456789;
SELECT * FROM int8_tbl WHERE q2 >= 4567890123456789;

# int8/int4 cmp
SELECT * FROM int8_tbl WHERE q2 = 456;
SELECT * FROM int8_tbl WHERE q2 <> 456;
#bug1332 SELECT * FROM int8_tbl WHERE q2 < 456;
SELECT * FROM int8_tbl WHERE q2 > 456;
#bug1332 SELECT * FROM int8_tbl WHERE q2 <= 456;
SELECT * FROM int8_tbl WHERE q2 >= 456;

# int4/int8 cmp
SELECT * FROM int8_tbl WHERE 123 = q1;
SELECT * FROM int8_tbl WHERE 123 <> q1;
SELECT * FROM int8_tbl WHERE 123 < q1;
#bug1332 SELECT * FROM int8_tbl WHERE 123 > q1;
SELECT * FROM int8_tbl WHERE 123 <= q1;
#bug1332 SELECT * FROM int8_tbl WHERE 123 >= q1;

# cleanup
drop DATABASE integer_range_test;
"""

SCRIPT_ZEROFILL = """--source include/have_tianmu.inc

--echo #
--echo # Test zerofill
--echo #

--disable_warnings
DROP DATABASE IF EXISTS zerofill_test;
--enable_warnings

CREATE DATABASE zerofill_test;
USE zerofill_test;

CREATE TABLE st1 (x INT(8) ZEROFILL NOT NULL, y INT(8) NOT NULL);
INSERT INTO st1 VALUES
(1, 1),
(12, 12),
(123, 123),
(1234567, 1234567),
(123456789, 123456789);
select * from st1;

CREATE TABLE st2(id int PRIMARY KEY,val TINYINT(10) ZEROFILL);
INSERT INTO st2 VALUES(1,12),(2,7),(4,101);
SELECT * FROM st2;
#bug1095 SELECT LENGTH(val) FROM st2 WHERE id=2;
SELECT val+1 FROM st2 WHERE id=2;

create table st3 (id1 int,id2 int(5));
insert into st3 values (1,1);
alter table st3 modify id1 int zerofill;
alter table st3 modify id2 int(5) zerofill;
insert into st3 values (1,1234567);
select * from st3;

CREATE TABLE st4(  
`id` int(11) unsigned zerofill NOT NULL AUTO_INCREMENT,  
`col2` varchar(20) NOT NULL, 
`year` year(4) DEFAULT NULL,  
`month` int(2) unsigned zerofill DEFAULT NULL,  
`day` int(2) unsigned zerofill DEFAULT NULL,
 PRIMARY KEY (`id`)
);

insert into st4 values(1,'test',2021,12,12);
alter table st4 MODIFY id int;
select * from st4;

CREATE TABLE st5(
num1 TINYINT,
num2 TINYINT UNSIGNED,
num3 INT,
num4 INT ZEROFILL,
num5 INT UNSIGNED ZEROFILL
);
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT st5(num1,num2) VALUES(-5,-5);
INSERT st5(num3,num4) VALUES(123,123);
INSERT st5 VALUES(0,0,0,0,0);
INSERT st5(num3,num4,num5) VALUES(123,123,123);
SELECT * FROM st5;

# Clean UP
DROP DATABASE zerofill_test;
"""

SCRIPT_TRUNCATE_TABLE = """--echo #
--echo # Test TRUNCATE TABLE in various possible scenarios.
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS truncate_table;
--enable_warnings

CREATE DATABASE truncate_table;
USE truncate_table;

CREATE TABLE t1 (a INTEGER, b INT,c1 CHAR(10)) ENGINE=tianmu;
INSERT INTO t1 (a) VALUES (1),(2);
TRUNCATE TABLE t1;
SELECT COUNT(*) FROM t1;
INSERT INTO t1 VALUES (1, 2, "test");
SELECT COUNT(*) FROM t1;
TRUNCATE truncate_table.t1;

DROP TABLE IF EXISTS non_existing_table;
--error 1146
TRUNCATE non_existing_table;

# check multi-table TRUNCATE
DROP TABLE t1;
DROP TABLE IF EXISTS t2;
CREATE TABLE t1 (id INT) ENGINE=INNODB;
CREATE TABLE t2 (id INT) ENGINE=tianmu;
--error 1064
TRUNCATE t1, t2;
TRUNCATE t1;
TRUNCATE t2;
DROP TABLE t1;
DROP TABLE t2;

# Test for Bug#5507 "TRUNCATE should work with views"
#
# when it'll be fixed, the error should become 1347
# (test.v1' is not of type 'BASE TABLE')
#
CREATE TABLE t1 (id INT) ENGINE=tianmu; 
INSERT INTO t1 (id) VALUES (1), (2), (3), (4), (5);
CREATE VIEW v1 AS SELECT * FROM t1;
--error 1146
TRUNCATE v1;
SELECT * FROM v1;
--error ER_NO_SUCH_TABLE
TRUNCATE v1;
SELECT * FROM v1;

CREATE PROCEDURE p1() SET @a = 5;
--error ER_NO_SUCH_TABLE
TRUNCATE p1;

# Test with handler
DROP TABLE t1;
CREATE TABLE t1 AS SELECT 1 AS f1;
TRUNCATE t1;

DROP TABLE t1;
DROP TABLE IF EXISTS t1;
CREATE TABLE t1 (id INT) ENGINE=tianmu;
INSERT INTO t1 (id) VALUES (1), (2), (3), (4), (5);
CREATE TABLE t2 LIKE t1;
INSERT INTO t2 SELECT * FROM t1;

# Test from parallel connections
connect (addconroot1, localhost, root,,);
connect (addconroot2, localhost, root,,);
connection addconroot1;
TRUNCATE truncate_table.t1;
connection addconroot2;
TRUNCATE truncate_table.t1;
connection addconroot1;
TRUNCATE truncate_table.t1;
connection addconroot2;
USE truncate_table;
TRUNCATE t2;

connection default;
USE truncate_table;
SELECT count(*) FROM t1;
SELECT count(*) FROM t2;
disconnect addconroot1;
disconnect addconroot2;

DROP DATABASE truncate_table;
"""

SCRIPT_REPLACE = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS replace_test;
--enable_warnings

CREATE DATABASE replace_test;

USE replace_test;

#
# Test REPLACE INTO with TIANMU
#

--disable_warnings
drop table if exists test1;
--enable_warnings
# test auto_increment and the primary key covers 1 columns
CREATE TABLE test1 (
  id INT NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  ts TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
  PRIMARY KEY (id)
)  engine=tianmu;
REPLACE INTO test1 VALUES (1, 'Old', '2014-08-20 18:47:00');
REPLACE INTO test1 VALUES (1, 'New', '2014-08-20 18:47:42');
SELECT * FROM test1;
drop table test1;
--disable_warnings
drop table if exists test2;
--enable_warnings

# the primary key now covers 2 columns
CREATE TABLE test2 (
  id INT NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  ts TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
  PRIMARY KEY (id, ts)
)  engine=tianmu;
REPLACE INTO test2 VALUES (1, 'Old', '2014-08-20 18:47:00');
REPLACE INTO test2 VALUES (1, 'New', '2014-08-20 18:47:42');
select * from test2;
drop table test2;

# test whether `delete` would impact the `replace into` action
--disable_warnings
drop table if exists test1;
--enable_warnings
CREATE TABLE test1 (
  id INT NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  ts TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
  PRIMARY KEY (id)
)  engine=tianmu;
insert into test1 values (1,'Old', '2014-08-20 18:47:00');
insert into test1 values (2, 'Old', '2014-08-20 18:47:00');
REPLACE INTO test1 VALUES (1, 'New', '2014-08-20 18:47:42');
SELECT * FROM test1;
delete from test1 where id =1;
SELECT * FROM test1;
REPLACE INTO test1 VALUES (1, 'NewNew', '2014-08-20 18:47:55');
SELECT * FROM test1;
REPLACE INTO test1 VALUES (1, 'NewNewNew', '2014-08-20 18:55:55');
SELECT * FROM test1;
drop table test1;

DROP DATABASE replace_test;
"""

SCRIPT_DELETE = """drop table if exists t1,t2,t3,t11,t12;
--enable_warnings
CREATE TABLE t1 (a tinyint(3), b tinyint(5))ENGINE=TIANMU;
INSERT INTO t1 VALUES (1,1);
INSERT LOW_PRIORITY INTO t1 VALUES (1,2);
INSERT INTO t1 VALUES (1,3);
DELETE from t1 where a=1 limit 1;
DELETE LOW_PRIORITY from t1 where a=1;

INSERT INTO t1 VALUES (1,1);
DELETE from t1;
INSERT INTO t1 VALUES (1,2);
DELETE from t1;
INSERT INTO t1 VALUES (1,2);
SET AUTOCOMMIT=0;
DELETE from t1;
SET AUTOCOMMIT=1;
drop table t1;

#
# Test of delete when the delete will cause a node to disappear and reappear
# (This assumes a block size of 1024)
#

create table t1 (
	a bigint not null,
	b bigint not null default 0,
	c bigint not null default 0,
	d bigint not null default 0,
	e bigint not null default 0,
	f bigint not null default 0,
	g bigint not null default 0,
	h bigint not null default 0,
	i bigint not null default 0,
	j bigint not null default 0,
	primary key (a,b,c,d,e,f,g,h,i,j))ENGINE=TIANMU;
insert into t1 (a) values (2),(4),(6),(8),(10),(12),(14),(16),(18),(20),(22),(24),(26),(23);
delete from t1 where a=26;
drop table t1;
create table t1 (
	a bigint not null,
	b bigint not null default 0,
	c bigint not null default 0,
	d bigint not null default 0,
	e bigint not null default 0,
	f bigint not null default 0,
	g bigint not null default 0,
	h bigint not null default 0,
	i bigint not null default 0,
	j bigint not null default 0,
	primary key (a,b,c,d,e,f,g,h,i,j));
insert into t1 (a) values (2),(4),(6),(8),(10),(12),(14),(16),(18),(20),(22),(24),(26),(23),(27);
delete from t1 where a=27;
drop table t1;

CREATE TABLE `t1` (
  `i` int(10) NOT NULL default '0',
  `i2` int(10) NOT NULL default '0',
  PRIMARY KEY  (`i`)
)ENGINE=TIANMU;
-- error 1054
DELETE FROM t1 USING t1 WHERE post='1';
drop table t1;

#
# CHAR(0) bug - not actually DELETE bug, but anyway...
#

CREATE TABLE t1 (
  bool     char(0) default NULL,
  not_null varchar(20) binary NOT NULL default '',
  misc     integer not null,
  PRIMARY KEY  (not_null)
)ENGINE=TIANMU;

INSERT INTO t1 VALUES (NULL,'a',4), (NULL,'b',5), (NULL,'c',6), (NULL,'d',7);

select * from t1 where misc > 5 and bool is null;
delete   from t1 where misc > 5 and bool is null;
select * from t1 where misc > 5 and bool is null;

select count(*) from t1;
delete from t1 where 1 > 2;
select count(*) from t1;
delete from t1 where 3 > 2;
select count(*) from t1;

drop table t1;
CREATE TABLE t1 ( a int PRIMARY KEY )ENGINE=TIANMU;
DELETE FROM t1 WHERE t1.a > 0 ORDER BY t1.a;
INSERT INTO t1 VALUES (0),(1),(2);
DELETE FROM t1 WHERE t1.a > 0 ORDER BY t1.a LIMIT 1;
SELECT * FROM t1;
DROP TABLE t1;
create table t1(a date not null)ENGINE=TIANMU;
-- error 1292
insert into t1 values (0);
select * from t1 where a is null;
delete from t1 where a is null;
select count(*) from t1;
drop table t1;
"""

SCRIPT_UPDATE_V1 = """--enable_warnings

create table t1 (a int auto_increment , primary key (a))engine=tianmu;
insert into t1 values (NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL),(NULL); 
update t1 set a=a+10 where a > 34;
update t1 set a=a+100 where a > 0;

# Some strange updates to test some otherwise unused code
update t1 set a=a+100 where a=1 and a=2;
--error 1054
update t1 set a=b+100 where a=1 and a=2; 
--error 1054
update t1 set a=b+100 where c=1 and a=2; 
--error 1054
update t1 set d=a+100 where a=1;
select * from t1;
drop table t1;
CREATE TABLE t1
 (
 place_id int (10) NOT NULL,
 shows int(10) DEFAULT '0' NOT NULL,
 ishows int(10) DEFAULT '0' NOT NULL,
 ushows int(10) DEFAULT '0' NOT NULL,
 clicks int(10) DEFAULT '0' NOT NULL,
 iclicks int(10) DEFAULT '0' NOT NULL,
 uclicks int(10) DEFAULT '0' NOT NULL,
 ts timestamp,
 PRIMARY KEY (place_id,ts)
 );

INSERT INTO t1 (place_id,shows,ishows,ushows,clicks,iclicks,uclicks,ts)
VALUES (1,0,0,0,0,0,0,20000928174434);
UPDATE t1 SET shows=shows+1,ishows=ishows+1,ushows=ushows+1,clicks=clicks+1,iclicks=iclicks+1,uclicks=uclicks+1 WHERE place_id=1 AND ts>="2000-09-28 00:00:00";
select place_id,shows from t1;
drop table t1;
CREATE TABLE t1 (
   `id_param` smallint(3) NOT NULL default '0',
   `nom_option` char(40) NOT NULL default '',
   `valid` tinyint(1) NOT NULL default '0'
 ) ENGINE=tianmu;

INSERT INTO t1 (id_param,nom_option,valid) VALUES (185,'600x1200',1);

UPDATE t1 SET nom_option='test' WHERE id_param=185 AND nom_option='600x1200' AND valid=1 LIMIT 1;
select * from t1;
drop table t1;
"""

SCRIPT_DOUBLE_FLOAT = """--source include/have_tianmu.inc
--echo #
--echo # Some double/float tests moved from regr.
--echo # DML, DQL w/without filters
--echo #

--disable_warnings
DROP DATABASE IF EXISTS `double_float`;
--enable_warnings
CREATE DATABASE `double_float`;
USE `double_float`;

SET default_storage_engine=tianmu;
SELECT @@default_storage_engine;

CREATE TABLE test1 (dkey int);
INSERT INTO test1 VALUES (1), (2), (3);
SELECT test1.dkey FROM test1 ORDER BY test1.dkey;

CREATE TABLE qatabledouble (col DOUBLE) ;
CREATE TABLE qatablefloat (col float) ;
INSERT INTO qatabledouble VALUES (-2.225073858507201E-307); # Changed -308 to -307, -308 errors on qaftest7.
INSERT INTO qatabledouble VALUES (-1.807302187774382E-127);
INSERT INTO qatabledouble VALUES (0);
INSERT INTO qatabledouble VALUES (1.993777023789432E+21);
INSERT INTO qatabledouble VALUES (1.797693134862315E+38);
INSERT INTO qatabledouble VALUES (-19937770237894323221);
INSERT INTO qatabledouble VALUES (17976931348623158);
SELECT * FROM qatabledouble order by col;
INSERT INTO qatabledouble VALUES (null);
INSERT INTO qatabledouble VALUES (null);
INSERT INTO qatabledouble VALUES (null);
SELECT * FROM qatabledouble  order by col;
INSERT INTO qatablefloat VALUES (null);
INSERT INTO qatablefloat VALUES (null);
INSERT INTO qatablefloat VALUES (null);
SELECT * FROM qatablefloat order by col;
DELETE FROM qatabledouble WHERE col IS NULL;
SELECT * FROM qatabledouble order by col;
delete FROM qatablefloat WHERE col IS NULL;
SELECT * FROM qatablefloat order by col;
CREATE TABLE qatabledouble_v2 (col1 DOUBLE, col2 DOUBLE, col3 DOUBLE) ;
INSERT INTO qatabledouble_v2 VALUES (-0.50, -0.50, -0.50);
INSERT INTO qatabledouble_v2 VALUES (-0.49, -0.49, -0.49);
INSERT INTO qatabledouble_v2 VALUES (0.49, 0.49, 0.49);
INSERT INTO qatabledouble_v2 VALUES (0.50, 0.50, 0.50);
INSERT INTO qatabledouble_v2 VALUES (+8,+8,+8);
INSERT INTO qatabledouble_v2 VALUES (+0.50,+0.50,+0.50);
INSERT INTO qatabledouble_v2 VALUES (+0.49,+0.49,+0.49);
INSERT INTO qatabledouble_v2 VALUES (+0.0,+0.0,+0.0);
INSERT INTO qatabledouble_v2 VALUES (+.50,+.50,+.50);
INSERT INTO qatabledouble_v2 VALUES (+.49,+.49,+.49);
INSERT INTO qatabledouble_v2 VALUES (+.0,+.0,+.0);
INSERT INTO qatabledouble_v2 VALUES (-.0,-.0,-.0);
INSERT INTO qatabledouble_v2 VALUES (-.49,-.49,-.49);
INSERT INTO qatabledouble_v2 VALUES (-.50,-.50,-.50);
INSERT INTO qatabledouble_v2 VALUES (-0.0,-0.0,-0.0);
INSERT INTO qatabledouble_v2 VALUES (-0.49,-0.49,-0.49);
INSERT INTO qatabledouble_v2 VALUES (-0.50,-0.50,-0.50);
INSERT INTO qatabledouble_v2 VALUES (-8,-8,-8);
INSERT INTO qatabledouble_v2 VALUES (8,8,8);
INSERT INTO qatabledouble_v2 VALUES (0.50,0.50,0.50);
INSERT INTO qatabledouble_v2 VALUES (0.49,0.49,0.49);
INSERT INTO qatabledouble_v2 VALUES (0.0,0.0,0.0);
INSERT INTO qatabledouble_v2 VALUES (.50,.50,.50);
INSERT INTO qatabledouble_v2 VALUES (.49,.49,.49);
INSERT INTO qatabledouble_v2 VALUES (.0,.0,.0);
SELECT * FROM qatabledouble_v2 order by col1;
CREATE TABLE qatablefloat_v3 (col1 float, col2 float, col3 float) ;
INSERT INTO qatablefloat_v3 VALUES (-0.50, -0.50, -0.50);
INSERT INTO qatablefloat_v3 VALUES (-0.49, -0.49, -0.49);
INSERT INTO qatablefloat_v3 VALUES (0.49, 0.49, 0.49);
INSERT INTO qatablefloat_v3 VALUES (0.50, 0.50, 0.50);
INSERT INTO qatablefloat_v3 VALUES (+8,+8,+8);
INSERT INTO qatablefloat_v3 VALUES (+0.50,+0.50,+0.50);
INSERT INTO qatablefloat_v3 VALUES (+0.49,+0.49,+0.49);
INSERT INTO qatablefloat_v3 VALUES (+0.0,+0.0,+0.0);
INSERT INTO qatablefloat_v3 VALUES (+.50,+.50,+.50);
INSERT INTO qatablefloat_v3 VALUES (+.49,+.49,+.49);
INSERT INTO qatablefloat_v3 VALUES (+.0,+.0,+.0);
INSERT INTO qatablefloat_v3 VALUES (-.0,-.0,-.0);
INSERT INTO qatablefloat_v3 VALUES (-.49,-.49,-.49);
INSERT INTO qatablefloat_v3 VALUES (-.50,-.50,-.50);
INSERT INTO qatablefloat_v3 VALUES (-0.0,-0.0,-0.0);
INSERT INTO qatablefloat_v3 VALUES (-0.49,-0.49,-0.49);
INSERT INTO qatablefloat_v3 VALUES (-0.50,-0.50,-0.50);
INSERT INTO qatablefloat_v3 VALUES (-8,-8,-8);
INSERT INTO qatablefloat_v3 VALUES (8,8,8);
INSERT INTO qatablefloat_v3 VALUES (0.50,0.50,0.50);
INSERT INTO qatablefloat_v3 VALUES (0.49,0.49,0.49);
INSERT INTO qatablefloat_v3 VALUES (0.0,0.0,0.0);
INSERT INTO qatablefloat_v3 VALUES (.50,.50,.50);
INSERT INTO qatablefloat_v3 VALUES (.49,.49,.49);
INSERT INTO qatablefloat_v3 VALUES (.0,.0,.0);
SELECT * FROM qatablefloat_v3 order by col1;

DROP DATABASE `double_float`;
"""

SCRIPT_SELECT_ORDER_BY = """--source include/have_tianmu.inc

#
# Some basic order by statements #
# Author: syw
#

--disable_warnings
DROP DATABASE IF EXISTS db1;
--enable_warnings

CREATE DATABASE db1;
USE db1;

CREATE TABLE t1
(
  t1_tinyint TINYINT DEFAULT 0,
  t1_int INT DEFAULT NULL,
  t1_bigint BIGINT,
  t1_double DOUBLE,
  t1_float FLOAT,
  t1_blob BLOB,
  t1_text TEXT,
  t1_char CHAR(1),
  t1_varchar VARCHAR(255) DEFAULT 'hello world!',
  t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(203685477580676, -3.797693231E+108, -7.402866E+18, repeat('b',100), repeat('b',100), 'b', '2387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) 
 VALUES(303685477580676, -4.797693231, -8.402866, repeat('b',101), repeat('b',101), 'b', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime) 
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_bigint, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
 VALUES(403685477580676, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);

SELECT * FROM t1;

SELECT * FROM t1 ORDER BY t1_tinyint;
SELECT * FROM t1 ORDER BY t1_tinyint ASC;
SELECT * FROM t1 ORDER BY t1_tinyint DESC;

SELECT * FROM t1 ORDER BY t1_int;
SELECT * FROM t1 ORDER BY t1_int ASC;
SELECT * FROM t1 ORDER BY t1_int DESC;

SELECT * FROM t1 ORDER BY t1_bigint;
SELECT * FROM t1 ORDER BY t1_bigint ASC;
SELECT * FROM t1 ORDER BY t1_bigint DESC;

SELECT * FROM t1 ORDER BY t1_double;
SELECT * FROM t1 ORDER BY t1_double ASC;
SELECT * FROM t1 ORDER BY t1_double DESC;

SELECT * FROM t1 ORDER BY t1_float;
SELECT * FROM t1 ORDER BY t1_float ASC;
SELECT * FROM t1 ORDER BY t1_float DESC;

SELECT * FROM t1 ORDER BY t1_blob;
SELECT * FROM t1 ORDER BY t1_blob ASC;
SELECT * FROM t1 ORDER BY t1_blob DESC;

SELECT * FROM t1 ORDER BY t1_text;
SELECT * FROM t1 ORDER BY t1_text ASC;
SELECT * FROM t1 ORDER BY t1_text DESC;

SELECT * FROM t1 ORDER BY t1_char;
SELECT * FROM t1 ORDER BY t1_char ASC;
SELECT * FROM t1 ORDER BY t1_char DESC;

SELECT * FROM t1 ORDER BY t1_varchar;
SELECT * FROM t1 ORDER BY t1_varchar ASC;
SELECT * FROM t1 ORDER BY t1_varchar DESC;

SELECT * FROM t1 ORDER BY t1_datetime;
SELECT * FROM t1 ORDER BY t1_datetime ASC;
SELECT * FROM t1 ORDER BY t1_datetime DESC;

#ORDER BY multiple columns
SELECT * FROM t1 ORDER BY t1_tinyint, t1_int, t1_bigint;
SELECT * FROM t1 ORDER BY t1_tinyint, t1_int, t1_bigint ASC;
SELECT * FROM t1 ORDER BY t1_tinyint, t1_int, t1_bigint DESC;

SELECT * FROM t1 ORDER BY t1_double, t1_float;
SELECT * FROM t1 ORDER BY t1_double, t1_float ASC;
SELECT * FROM t1 ORDER BY t1_double, t1_float DESC;

SELECT * FROM t1 ORDER BY t1_blob, t1_text, t1_char;
SELECT * FROM t1 ORDER BY t1_blob, t1_text, t1_char ASC;
SELECT * FROM t1 ORDER BY t1_blob, t1_text, t1_char DESC;

SELECT * FROM t1 ORDER BY t1_varchar, t1_datetime;
SELECT * FROM t1 ORDER BY t1_varchar, t1_datetime ASC;
SELECT * FROM t1 ORDER BY t1_varchar, t1_datetime DESC;

#Clean up
DROP DATABASE IF EXISTS db1;

"""

SCRIPT_UNSIGNED_MATH = """--source include/have_tianmu.inc

--echo #
--echo # Test unsigned_math
--echo #

--disable_warnings
DROP DATABASE IF EXISTS unsigned_math_test;
--enable_warnings

CREATE DATABASE unsigned_math_test;
USE unsigned_math_test;

create table j1 (j1_key int);
insert into j1 values (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15),(null);

ALTER TABLE j1 ADD COLUMN CUTINYINT TINYINT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUSMALLINT SMALLINT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUINTEGER INT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUBIGINT BIGINT UNSIGNED;
UPDATE j1 SET CUTINYINT=127;
UPDATE j1 SET CUSMALLINT=32767;
UPDATE j1 SET CUINTEGER=2147483647;
UPDATE j1 SET CUBIGINT=9223372036854775807;

SELECT 'ABS1', ABS(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'ABS2', ABS(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'ABS3', ABS(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'ABS4', ABS(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'CEIL1', CEIL(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'CEIL2', CEIL(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'CEIL3', CEIL(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'CEIL4', CEIL(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'FLOOR1', FLOOR(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'FLOOR2', FLOOR(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'FLOOR3', FLOOR(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'FLOOR4', FLOOR(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'DIV1', CUINTEGER DIV CUTINYINT FROM j1 WHERE j1_key=1;
SELECT 'DIV2', CUINTEGER DIV CUSMALLINT FROM j1 WHERE j1_key=1;
SELECT 'DIV3', CUBIGINT DIV CUTINYINT FROM j1 WHERE j1_key=1;
SELECT 'DIV4', CUBIGINT DIV CUSMALLINT FROM j1 WHERE j1_key=1;
SELECT 'DIV5', CUBIGINT DIV CUINTEGER FROM j1 WHERE j1_key=1;
SELECT 'DIV6', CUINTEGER DIV CUBIGINT FROM j1 WHERE j1_key=1;

SELECT 'EXP1', EXP(CUTINYINT) FROM j1 WHERE j1_key=1;

SELECT 'LN1', LN(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'LN2', LN(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'LN3', LN(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'LN4', LN(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'LOG1', LOG(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG2', LOG(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG3', LOG(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'LOG4', LOG(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'LOG21', LOG2(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG22', LOG2(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG23', LOG2(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'LOG24', LOG2(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'LOG101', LOG10(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG102', LOG10(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'LOG103', LOG10(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'LOG104', LOG10(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'MD51', MD5(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'MD52', MD5(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'MD53', MD5(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'MD54', MD5(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'MOD1', MOD(CUTINYINT,10) FROM j1 WHERE j1_key=1;
SELECT 'MOD2', MOD(CUSMALLINT,9) FROM j1 WHERE j1_key=1;
SELECT 'MOD3', MOD(CUINTEGER,8) FROM j1 WHERE j1_key=1;
SELECT 'MOD4', MOD(CUBIGINT,16) FROM j1 WHERE j1_key=1;

SELECT 'NULLIF1', NULLIF(CUTINYINT,127) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF2', NULLIF(CUSMALLINT,32767) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF3', NULLIF(CUINTEGER,2147483647) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF4', NULLIF(CUBIGINT,9223372036854775807) FROM j1 WHERE j1_key=1;

SELECT 'NULLIF5', NULLIF(CUTINYINT,127) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF6', NULLIF(CUSMALLINT,32767) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF7', NULLIF(CUINTEGER,2147483647) FROM j1 WHERE j1_key=1;
SELECT 'NULLIF8', NULLIF(CUBIGINT,9223372036854775807) FROM j1 WHERE j1_key=1;

SELECT 'POW1', POW(CUTINYINT,4) FROM j1 WHERE j1_key=1;
SELECT 'POW2', POW(CUSMALLINT,4) FROM j1 WHERE j1_key=1;
SELECT 'POW3', POW(CUINTEGER,4) FROM j1 WHERE j1_key=1;
SELECT 'POW4', POW(CUBIGINT,4) FROM j1 WHERE j1_key=1;

SELECT 'ROUND1', ROUND(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'ROUND2', ROUND(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'ROUND3', ROUND(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'ROUND4', ROUND(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'SIGN1', SIGN(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'SIGN2', SIGN(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'SIGN3', SIGN(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'SIGN4', SIGN(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'SIN1', SIN(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'SIN2', SIN(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'SIN3', SIN(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'SIN4', SIN(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'SQRT1', SQRT(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'SQRT2', SQRT(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'SQRT3', SQRT(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'SQRT4', SQRT(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT 'TAN1', TAN(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT 'TAN2', TAN(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT 'TAN3', TAN(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT 'TAN4', TAN(CUBIGINT) FROM j1 WHERE j1_key=1;

ALTER TABLE j1 DROP COLUMN CUTINYINT;
ALTER TABLE j1 DROP COLUMN CUSMALLINT;
ALTER TABLE j1 DROP COLUMN CUINTEGER;
ALTER TABLE j1 DROP COLUMN CUBIGINT;

# Clean UP
drop table j1;
DROP DATABASE unsigned_math_test;

"""

SCRIPT_SELECT_FROM = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS select_from_test;
--enable_warnings

CREATE DATABASE select_from_test;

USE select_from_test;

--echo #
--echo # Test select from
--echo #

--disable_warnings
drop table if exists t1_test;
--enable_warnings

create table t1_test(
id int, 
c1 date, 
c2 decimal(4,2), 
c3 date);

insert into t1_test values 
(0, '2011-01-27', null, '1999-08-25'), 
(1, null, null, null), 
(2, '2001-01-05', 2.34, null), 
(3, null, null, '2001-05-03');

select * from t1_test where (year(c1) = 2011 or c2 = 2.34) or month(c3) = 1;
select * from t1_test where (year(c1) = 2011 or c2 = 2.34) and month(c1) = 1;
select * from t1_test where year(c1) = 2011 or (c2 = 2.4) or month(c3) = 8;
select * from t1_test where year(c1) = 2011 or (c2 is null) or month(c1) = 2;
select * from t1_test where c1 is null or (c2 is null) or year(c1) = 99;
select * from t1_test where year(ifnull(c1, c3)) > 2000 and c2 is not null;
select * from t1_test where year(ifnull(c1, c3)) < 2000 or c2 is null and c3 is not null;
select * from t1_test where ifnull(year(c1), 2011) > 2010 or c2 is null and c3 is not null;
select * from t1_test where ifnull(year(c1), 2011) > 2010 or (c2 is null and c3 is not null or c2 > 2);
select * from t1_test where (null or year(ifnull(c1, c3)) > 2000) and ( c3 is not null or null);
select * from t1_test where (null or year(ifnull(c1, c3)) > 2000) or ( (c3 is not null or null) and c3 is null);
select * from t1_test where (null or year(ifnull(c1, c3)) > 2000) or ( (c3 is not null or null) and null);
select * from t1_test where (null or year(ifnull(c1, c3)) > 2000 and isnull(c2)) or ( (c3 is not null or null) and null);
select * from t1_test where ((null or year(ifnull(c1, c3)) > 2000) and isnull(c2)) or ( (c3 is not null or null) and null);
select * from t1_test where (null or c2+1 between 0 and 4 or isnull(c2)) and ( c3 is not null or null);

drop table if exists t2_test;

create table t2_test (
idx int,
i1 int,
i2 int,
bi1 bigint,
bi2 bigint,
d1 double,
d2 double,
f1 float,
f2 float,
c1 char(8),
c2 char(8),
vc1 varchar(20),
vc2 varchar(20),
dt1 date,
dt2 date,
dtm1 datetime,
dtm2 datetime
);

insert into t2_test values
(1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, '2008-01-25', '2008-01-25', '2008-01-25 10:00', '2011-01-08 11:00'),
(2, null, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, null, '2009-01-25', '2009-01-25', '2009-01-25 10:00', '2019-01-25 11:00'),
(3, 3, null, 3, 3, 3, 3, 3, 3, 3, 3, null, 3, '2010-01-25', '2010-01-25', '2010-01-25 10:00', '2018-01-25 11:00'),
(4, 4, 4, null, 4, 4, 4, 4, 4, 4, null, 4, 4, null, '2011-01-25', '2011-01-25 10:00', '2017-01-25 11:00'),
(5, 5, 5, 5, null, 5, 5, 5, 5, null, 5, 5, 5, '2012-01-25', null, '2012-01-25 10:00', '2016-01-25 11:00'),
(6, 6, 6, 6, 6, null, 6, 6, 6, 6, 6, 6, 6, '2013-01-25', '2014-01-25', null, '2015-01-25 11:00'),
(7, 7, 7, 7, 7, 7, null, 7, 7, 7, 7, 7, 7, '2014-01-25', '2013-01-25', '2014-01-25 10:00', null),
(8, 8, 8, 8, 8, 8, 8, null, 8, 8, 8, 8, 8, '2015-01-25', '2012-01-25', '2013-01-25 10:00', '2015-01-25 11:00'),
(9, 9, 9, 9, 9, 9, 9, 9, null, 9, 9, 9, 9, '2016-01-25', '2011-01-25', '2012-01-25 10:00', '2016-01-25 11:00'),
(10, null, null, null, null, null, null, null, null, null, null, null, null, null, null, null, null);

select 'q1', idx from t2_test where (idx <=5 or idx is null) or (if(idx > 7, null, idx) = idx);

select 'q2', idx, bi1, dt1, dt2 from t2_test
where (bi1 is null) or (year(dt1)<2013 or year(dt2)=2012 or dt1 is null) and (idx <= 9) and (year(dt2)<2020 or 
year(dt2) is null);

select 'q3', idx, bi1, dt1, dt2 from t2_test
where (bi1 is null) or (year(dt1)=2017 or year(dt2)=2012 or dt1 is null) and (idx <= 9) and (year(dt2)<2020 or 
year(dt2) is null);

select 'q4', idx, f1, f2 from t2_test where (f1 > 3) or (f2 < 7);

select 'q5', idx, vc1, vc2 from t2_test where (vc1 > 1) or (vc2 > 1);

select 'q6', idx, dtm1, dtm2 from t2_test where (year(dtm1)=2014 and month(dtm1)=1) or (year(dtm2)=2015 and 
month(dtm2) <= 7);

select 'q7', idx, d1, d2, f1, f2 from t2_test where (d1 <= d2 or f1 > f2 or f2 is null) and (idx >= 1 and (f1 < 8 or 
f2 > 7));

select 'q8', idx, dtm1, dtm2 from t2_test where hour(dtm1)=10 or hour(dtm2)=11;

select 'q9', idx from t2_test where hour(dtm1)=10 or i1 > 2 or i2 < 5 or f1 > 6 or year(dtm2) < 2018 or vc1 < 9 or 
bi2 < 4;

select 'q10', idx from t2_test where hour(dtm1)=9 or i1 = 2 or i2 = 5 or f2 is null or f1 > 6 or year(dtm2)= 2012 or 
vc1 = 9 or bi2 = 4;

#select count(*) from nation where n_nationkey < 3 OR NULL;
#select count(*) from nation where n_nationkey > 0 and (n_nationkey < 3 OR NULL);
#select count(*) from nation where n_nationkey > 0 and (n_nationkey < 3 OR n_nationkey is null);
#select count(*) from nation where n_comment like '%ep%' and (n_comment not like '%lee%' OR null);
#select count(*) from nation where n_nationkey > 0 union select count(*) from nation where n_nationkey < 3 OR NULL order by 1;

# clean up
drop table t2_test;
drop table t1_test;

DROP DATABASE select_from_test;
"""

SCRIPT_AGGREGATE = """--source include/have_tianmu.inc

--echo #
--echo # Test aggregate
--echo #

--disable_warnings
DROP DATABASE IF EXISTS aggregate_test;
--enable_warnings

CREATE DATABASE aggregate_test;
USE aggregate_test;

--disable_warnings
DROP TABLE IF EXISTS cs1;
DROP TABLE IF EXISTS cs2;
DROP TABLE IF EXISTS cs3;
DROP TABLE IF EXISTS cs4;
DROP TABLE IF EXISTS cs5;
--enable_warnings

CREATE TABLE cs1 (d1 DECIMAL(17), d2 DECIMAL(17,10), d3 DECIMAL(17,16), d4 DECIMAL(17),d5 DECIMAL(17),i1 INT) ;
CREATE TABLE cs2 (d1 DECIMAL(17) SIGNED, d2 DECIMAL(17,10) SIGNED, d3 DECIMAL(17,16) SIGNED, d4 DECIMAL(17),d5 DECIMAL(17),i1 INT);
CREATE TABLE cs3 (d1 DECIMAL(17), d2 DECIMAL(17,10), d3 DECIMAL(17,16), d4 DECIMAL(17),d5 DECIMAL(17),i1 INT) ;
CREATE TABLE cs4 (d1 DECIMAL(17) SIGNED, d2 DECIMAL(17,10) SIGNED, d3 DECIMAL(17,16) SIGNED, d4 DECIMAL(17) SIGNED,d5 DECIMAL(17),i1 INT);
CREATE TABLE cs5(d DECIMAL(17,10)) ;

INSERT INTO cs1 VALUES
    (1234,5678,-0.123456789012345,2,1,1),     
    (1234,-5678,0.12345678901234,2,1,1),
    (1234567890123,123456.90123,0.12345678901234,2,1,1),
    (NULL,NULL,NULL,2,1,1),
    (0,0,0,2,1,1),
    (1234,5678,0.123456789,3,2,2),
    (-12345678923,-5678,0.1234567890121,3,2,2),
    (56789012,123856.90,0.12345678909,3,2,2),
    (NULL,NULL,NULL,3,2,2),
    (0,0,0,3,2,2),
    (1234,5678,-0.123456789012345,1111111111,1,1),
    (1234,5678,-0.123456789012345,1111111111,1,1),
    (1234,5678,-0.123456789012345,1111111112,1,1); 
INSERT INTO cs2 VALUES
    (1234,5678,0.123456789012345,2,1,1),     
    (1234,5678,0.12345678901234,2,1,1),
    (1234567890123,123456.90123,0.12345678901234,2,1,1),
    (NULL,NULL,NULL,2,1,1),
    (0,0,0,2,1,1),
    (1234,5678,0.123456789,3,2,2),
    (456789123,5678,0.1234567890121,3,2,2),
    (56789012,123856.90,0.12345678909,3,2,2),
    (NULL,NULL,NULL,3,2,2),
    (0,0,0,3,2,2),
    (1234,5678,0.123456789012345,1111111111,1,1),
    (1234,5678,0.123456789012345,1111111111,1,1),
    (1234,5678,0.123456789012345,1111111112,1,1); 
INSERT INTO cs3 VALUES
    (1234,5678,-0.12345678901234,2,1,1),     
    (1234,-5678,0.12345678901234,2,1,1),
    (12345678901,123456.90128,0.1234567890123,2,1,1),
    (NULL,NULL,NULL,2,1,1),
    (0,0,0,2,1,1),
    (1234,5678,0.12345678901234,3,2,2),
    (-1234567899,-5678,0.1234567890123,3,2,2),
    (12345678901,123456.9012,0.1234567890123,3,2,2),
    (NULL,NULL,NULL,3,2,2),
    (0,0,0,3,2,2);
INSERT INTO cs4 VALUES
    (1234,5678,0.12345678901234,2,1,1),     
    (1234,5678,0.12345678901234,2,1,1),
    (12345678901,123456.90128,0.1234567890123,2,1,1),
    (NULL,NULL,NULL,2,1,1),
    (0,0,0,2,1,1),
    (1234,5678,0.12345678901234,3,2,2),
    (1234567899,5678,0.1234567890123,3,2,2),
    (12345678901,123456.90123,0.1234567890123,3,2,2),
    (NULL,NULL,NULL,3,2,2),
    (0,0,0,3,2,2);

#no GROUP BY DECIMAL
SELECT "sum(17)_test1", sum(d1),sum(d2),sum(d3) FROM cs1;
# SELECT "avg(17)_test1", avg(d1),avg(d2),avg(d3) FROM cs1;
SELECT "count(17)_test1", count(d1),count(d2),count(d3) FROM cs1;
SELECT "min(17)_test1", min(d1),min(d2),min(d3) FROM cs1;
SELECT "max(17)_test1", max(d1),max(d2),max(d3) FROM cs1;
# SELECT "group_concat(17)_test1", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs1;
SELECT "count(distinct 17)_test1", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs1;

#no GROUP BY DECIMAL
SELECT "sum(17)_test1", sum(d1),sum(d2),sum(d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;
#SELECT "avg(17)_test1", avg(d1),avg(d2),avg(d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;
SELECT "count(17)_test1", count(d1),count(d2),count(d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;
SELECT "min(17)_test1", min(d1),min(d2),min(d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;
SELECT "max(17)_test1", max(d1),max(d2),max(d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;

# SELECT "group_concat(17)_test1", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;
SELECT "count(distinct 17)_test1", count(distinct d1),count(distinct d2),count(distinct d3) FROM (SELECT d1,d2,d3 FROM cs1)a1;

#GROUP BY DECIMAL
SELECT "sum(17)_GB(17)_test1" ,d4,d5,sum(d1),sum(d2),sum(d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
#SELECT "avg(17)_GB(17)_test1" ,d4,d5,avg(d1),avg(d2),avg(d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(17)_GB(17)_test1" ,d4,d5,count(d1),count(d2),count(d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "min(17)_GB(17)_test1" ,d4,d5,min(d1),min(d2),min(d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "max(17)_GB(17)_test1" ,d4,d5,max(d1),max(d2),max(d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
# SELECT "group_concat(17)_GB(17)_test1", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2;
SELECT "count(distinct 17)_GB(17)_test1", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs1 GROUP BY d4,d5 ORDER BY 2,3;
#with GROUP BY INT
SELECT "sum(17)_GB(8)_test1" ,i1,sum(d1),sum(d2),sum(d3) FROM cs1 GROUP BY i1 ORDER BY 2;
#SELECT "avg(17)_GB(8)_test1" ,i1,avg(d1),avg(d2),avg(d3) FROM cs1 GROUP BY i1 ORDER BY 2;
SELECT "count(17)_GB(8)_test1" ,i1,count(d1),count(d2),count(d3) FROM cs1 GROUP BY i1 ORDER BY 2;
SELECT "min(17)_GB(8)_test1" ,i1,min(d1),min(d2),min(d3) FROM cs1 GROUP BY i1 ORDER BY 2;
SELECT "max(17)_GB(8)_test1" ,i1,max(d1),max(d2),max(d3) FROM cs1 GROUP BY i1 ORDER BY 2;
# SELECT "group_concat(17)_GB(8)_test1", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs1 GROUP BY i1 ORDER BY 2;
SELECT "count(distinct 17)_GB(8)_test1", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs1 GROUP BY i1 ORDER BY 2;

#no GROUP BY DECIMAL
SELECT "sum(17)_test2", sum(d1),sum(d2),sum(d3) FROM cs2;
#SELECT "avg(17)_test2", avg(d1),avg(d2),avg(d3) FROM cs2;
SELECT "count(17)_test2", count(d1),count(d2),count(d3) FROM cs2;
SELECT "min(17)_test2", min(d1),min(d2),min(d3) FROM cs2;
SELECT "max(17)_test2", max(d1),max(d2),max(d3) FROM cs2;
# SELECT "group_concat(17)_test2", group_concat(d1),group_concat(d2),group_concat(d3) FROM cs2;
SELECT "count(distinct 17)_test2", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs2;

#no GROUP BY DECIMAL
SELECT "sum(17)_test2", sum(d1),sum(d2),sum(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
#SELECT "avg(17)_test2", avg(d1),avg(d2),avg(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
SELECT "count(17)_test2", count(d1),count(d2),count(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
SELECT "min(17)_test2", min(d1),min(d2),min(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
SELECT "max(17)_test2", max(d1),max(d2),max(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
# SELECT "group_concat(17)_test2", group_concat(d1),group_concat(d2),group_concat(d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;
SELECT "count(distinct 17)_test2", count(distinct d1),count(distinct d2),count(distinct d3) FROM (SELECT d1,d2,d3 FROM cs2)a1;

#GROUP BY DECIMAL
SELECT "sum(17)_GB(17)_test2" ,d4,d5,sum(d1),sum(d2),sum(d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
#SELECT "avg(17)_GB(17)_test2" ,d4,d5,avg(d1),avg(d2),avg(d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(17)_GB(17)_test2" ,d4,d5,count(d1),count(d2),count(d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "min(17)_GB(17)_test2" ,d4,d5,min(d1),min(d2),min(d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "max(17)_GB(17)_test2" ,d4,d5,max(d1),max(d2),max(d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
# SELECT "group_concat(17)_GB(17)_test2", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(17)_test2", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs2 GROUP BY d4,d5 ORDER BY 2,3;

#with GROUP BY INT
SELECT "sum(17)_GB(8)_test2" ,i1,sum(d1),sum(d2),sum(d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;
#SELECT "avg(17)_GB(8)_test2" ,i1,avg(d1),avg(d2),avg(d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;
SELECT "count(17)_GB(8)_test2" ,i1,count(d1),count(d2),count(d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;
SELECT "min(17)_GB(8)_test2" ,i1,min(d1),min(d2),min(d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;
SELECT "max(17)_GB(8)_test2" ,i1,max(d1),max(d2),max(d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;
# SELECT "group_concat(17)_GB(8)_test2", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d1),group_concat(d3 ORDER BY d1) FROM cs2 GROUP BY i1 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(8)_test2", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs2 GROUP BY i1 ORDER BY 2,3;

#no GROUP BY DECIMAL
SELECT "sum(17)_test3", sum(d1),sum(d2),sum(d3) FROM cs3;
#SELECT "avg(17)_test3", avg(d1),avg(d2),avg(d3) FROM cs3;
SELECT "count(17)_test3", count(d1),count(d2),count(d3) FROM cs3;
SELECT "min(17)_test3", min(d1),min(d2),min(d3) FROM cs3;
SELECT "max(17)_test3", max(d1),max(d2),max(d3) FROM cs3;
# SELECT "group_concat(17)_test3", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d1),group_concat(d3 ORDER BY d1) FROM cs3;
SELECT "count(distinct 17)_test3", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs3;

#no GROUP BY DECIMAL
SELECT "sum(17)_test3", sum(d1),sum(d2),sum(d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
#SELECT "avg(17)_test3", avg(d1),avg(d2),avg(d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
SELECT "count(17)_test3", count(d1),count(d2),count(d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
SELECT "min(17)_test3", min(d1),min(d2),min(d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
SELECT "max(17)_test3", max(d1),max(d2),max(d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
# SELECT "group_concat(17)_test3", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;
SELECT "count(distinct 17)_test3", count(distinct d1),count(distinct d2),count(distinct d3) FROM (SELECT d1,d2,d3 FROM cs3)a1;

#GROUP BY DECIMAL
SELECT "sum(17)_GB(17)_test3" ,d4,d5,sum(d1),sum(d2),sum(d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
#SELECT "avg(17)_GB(17)_test3" ,d4,d5,avg(d1),avg(d2),avg(d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(17)_GB(17)_test3" ,d4,d5,count(d1),count(d2),count(d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "min(17)_GB(17)_test3" ,d4,d5,min(d1),min(d2),min(d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "max(17)_GB(17)_test3" ,d4,d5,max(d1),max(d2),max(d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
# SELECT "group_concat(17)_GB(17)_test3", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(17)_test3", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs3 GROUP BY d4,d5 ORDER BY 2,3;

#with GROUP BY INT
SELECT "sum(17)_GB(8)_test3" ,i1,sum(d1),sum(d2),sum(d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
#SELECT "avg(17)_GB(8)_test3" ,i1,avg(d1),avg(d2),avg(d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
SELECT "count(17)_GB(8)_test3" ,i1,count(d1),count(d2),count(d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
SELECT "min(17)_GB(8)_test3" ,i1,min(d1),min(d2),min(d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
SELECT "max(17)_GB(8)_test3" ,i1,max(d1),max(d2),max(d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
# SELECT "group_concat(17)_GB(8)_test3", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(8)_test3", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs3 GROUP BY i1 ORDER BY 2,3;

#no GROUP BY DECIMAL
SELECT "sum(17)_test4", sum(d1),sum(d2),sum(d3) FROM cs4;
#SELECT "avg(17)_test4", avg(d1),avg(d2),avg(d3) FROM cs4;
SELECT "count(17)_test4", count(d1),count(d2),count(d3) FROM cs4;
SELECT "min(17)_test4", min(d1),min(d2),min(d3) FROM cs4;
SELECT "max(17)_test4", max(d1),max(d2),max(d3) FROM cs4;
# SELECT "group_concat(17)_test4", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs4;
SELECT "count(distinct 17)_test4", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs4;

#no GROUP BY DECIMAL
SELECT "sum(17)_test4", sum(d1),sum(d2),sum(d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
#SELECT "avg(17)_test4", avg(d1),avg(d2),avg(d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
SELECT "count(17)_test4", count(d1),count(d2),count(d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
SELECT "min(17)_test4", min(d1),min(d2),min(d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
SELECT "max(17)_test4", max(d1),max(d2),max(d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
#SELECT "group_concat(17)_test4", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;
SELECT "count(distinct 17)_test4", count(distinct d1),count(distinct d2),count(distinct d3) FROM (SELECT d1,d2,d3 FROM cs4)a1;

#GROUP BY DECIMAL
SELECT "sum(17)_GB(17)_test4" ,d4,d5,sum(d1),sum(d2),sum(d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
#SELECT "avg(17)_GB(17)_test4" ,d4,d5,avg(d1),avg(d2),avg(d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(17)_GB(17)_test4" ,d4,d5,count(d1),count(d2),count(d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "min(17)_GB(17)_test4" ,d4,d5,min(d1),min(d2),min(d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "max(17)_GB(17)_test4" ,d4,d5,max(d1),max(d2),max(d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
#SELECT "group_concat(17)_GB(17)_test4", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(17)_test4", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs4 GROUP BY d4,d5 ORDER BY 2,3;

#with GROUP BY INT
SELECT "sum(17)_GB(17)_test4" ,i1,sum(d1),sum(d2),sum(d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
#SELECT "avg(17)_GB(17)_test4" ,i1,avg(d1),avg(d2),avg(d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
SELECT "count(17)_GB(17)_test4" ,i1,count(d1),count(d2),count(d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
SELECT "min(17)_GB(17)_test4" ,i1,min(d1),min(d2),min(d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
SELECT "max(17)_GB(17)_test4" ,i1,max(d1),max(d2),max(d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
#SELECT "group_concat(17)_GB(8)_test4", group_concat(d1 ORDER BY d1),group_concat(d2 ORDER BY d2),group_concat(d3 ORDER BY d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;
SELECT "count(distinct 17)_GB(8)_test4", count(distinct d1),count(distinct d2),count(distinct d3) FROM cs4 GROUP BY i1 ORDER BY 2,3;

SELECT sum(d1), "sum(17)_test1", sum(d2),sum(d3) FROM cs1;

INSERT INTO cs5 VALUES (1),(0.1),(0.05),(0.05),(0.05),(0.05),(0.2),(0.154),(0.1),(0.05),(0.05);
SELECT avg(d) FROM cs5;
UPDATE cs5 SET d=-d;
SELECT avg(d) FROM cs5;

#clean up
DROP TABLE cs1;
DROP TABLE cs2;
DROP TABLE cs3;
DROP TABLE cs4;
DROP TABLE cs5;
drop database aggregate_test;

"""

SCRIPT_AUTO_INCREMENT = """--source include/have_tianmu.inc
#
# Test auto_increment with TIANMU
#
--disable_warnings
DROP DATABASE IF EXISTS auto_increment_db;
--enable_warnings

CREATE DATABASE auto_increment_db;
USE auto_increment_db;

# test auto increment
CREATE TABLE t_auto_inc (
  id int(4) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;
insert into t_auto_inc (data) values("first"),("middle"),("last");
select * from t_auto_inc;

# test auto_increment about max value of column type
# signed data type
CREATE TABLE tint (
  id int(4) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;

insert into tint (id, data) values(2147483646, "first"),(63, "middle"),(0, "last");
select * from tint;
--error 1062
insert into tint (id, data) values (0, "last");
select * from tint;

CREATE TABLE ttinyint (
  id tinyint(1) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;

insert into ttinyint (id, data) values(126, "first"),(63, "middle"),(0, "last");
select * from ttinyint;
--error 1062
insert into ttinyint (id, data) values (0, "last");
select * from ttinyint;

CREATE TABLE tsmallint (
  id smallint(2) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;

insert into tsmallint (id, data) values(32766, "first"),(63, "middle"),(0, "last");
select * from tsmallint;
--error 1062
insert into tsmallint (id, data) values (0, "last");
select * from tsmallint;

CREATE TABLE tmediumint (
  id mediumint(3) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;

insert into tmediumint (id, data) values(8388606, "first"),(63, "middle"),(0, "last");
select * from tmediumint;
--error 1062
insert into tmediumint (id, data) values (0, "last");
select * from tmediumint;

CREATE TABLE tbigint (
  id bigint(8) NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
)  engine=tianmu;

insert into tbigint (id, data) values(9223372036854775806, "first"),(63, "middle"),(0, "last");
select * from tbigint;
--error 1062
insert into tbigint (id, data) values (0, "last");
select * from tbigint;
"""

SCRIPT_AUTO_INC_SEED = """--source include/have_tianmu.inc
#
# Test auto_increment_value with TIANMU
#
--disable_warnings
DROP DATABASE IF EXISTS auto_increment_value_db;
--enable_warnings

CREATE DATABASE auto_increment_value_db;
USE auto_increment_value_db;

# test init value
CREATE TABLE t_auto_increment_value (
  id int NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
) engine=tianmu AUTO_INCREMENT=100;
show create table t_auto_increment_value;
insert into t_auto_increment_value (data) values("first"),("middle"),("last");
select * from t_auto_increment_value;
show create table t_auto_increment_value;

# test update 
update t_auto_increment_value set id=80 where id=100;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"update_lt_max_id");
select * from t_auto_increment_value;

update t_auto_increment_value set id=200 where id=101;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"update_gt_max_id");
select * from t_auto_increment_value;

# test alter
alter table t_auto_increment_value AUTO_INCREMENT=300;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"alter_gt_max_id");
select * from t_auto_increment_value;

# when SET AUTO_INCREMENT < max_id, AUTO_INCREMENT value wouldnot be changed.
alter table t_auto_increment_value AUTO_INCREMENT=50;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"alter_lt_max_id");
select * from t_auto_increment_value;
"""

SCRIPT_UPDATE_JOIN = """--echo #
--echo # Test Update JOIN
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs82_db;
--enable_warnings

CREATE DATABASE mcs82_db;
USE mcs82_db;

CREATE TABLE t1 (t1_int INT, t1_char CHAR(5))ENGINE=tianmu;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5))ENGINE=tianmu;

INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'bbb'),(3, 'ccc'),(4, 'ddd'),(5, 'aa'),(6, ''),(7, 'aaaaa');
INSERT INTO t2 VALUES (NULL, ''),(1, 'hhhh'),(3, 'iii'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'm'),(11, 'nnn');

SELECT * FROM t1 ORDER BY t1_int;
UPDATE t1 JOIN t2 on t1.t1_int=t2.t2_int SET t1.t1_char='sssss';

SELECT * FROM t1 ORDER BY t1_int;
UPDATE t1 INNER JOIN t2 on t1.t1_int=t2.t2_int SET t1.t1_char='pqrs' WHERE t1_char LIKE '%a%';

SELECT * FROM t1 ORDER BY t1_int;
UPDATE t2 LEFT JOIN t1 on t1.t1_int=t2.t2_int SET t1.t1_char='xyz' WHERE t1_char is NULL;

SELECT * FROM t2 ORDER BY t2_int;

# Clean UP
DROP DATABASE mcs82_db;
"""

SCRIPT_DELETE_JOIN = """--source include/have_tianmu.inc

--echo #
--echo # DELETE JOIN
--echo #

--disable_warnings
DROP DATABASE IF EXISTS delete_join_test;
--enable_warnings

CREATE DATABASE delete_join_test;
USE delete_join_test;

CREATE TABLE t1 (t1_int INT, t1_char CHAR(5));
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5));
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'bbb'),(3, 'ccc'),(4, 'ddd'),(5, 'aa'),(6, ''),(7, 'aaaaa');
INSERT INTO t2 VALUES (NULL, ''),(1, 'hhhh'),(3, 'iii'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'm'),(11, 'nnn');

SELECT * FROM t1 ORDER BY t1_int;
SELECT * FROM t2 ORDER BY t2_int;

DELETE t1 FROM t1 INNER JOIN t2 ON t1.t1_int=t2.t2_int AND t1.t1_char LIKE '%a%';
SELECT * FROM t1 ORDER BY t1_int;
DELETE t2 FROM t2 LEFT JOIN t1 ON t1.t1_int=t2.t2_int WHERE t2.t2_int IS NULL;
SELECT * FROM t2 ORDER BY t2_int;

# Clean UP
DROP DATABASE delete_join_test;
"""

SCRIPT_UNSIGNED_TYPE = """--source include/have_tianmu.inc

--disable_warnings

CREATE DATABASE unsingeddata;

USE unsingeddata;

create table j1 (j1_key int) engine=tianmu;
create table j2 (j2_key int) engine=innodb;
insert into j1 values (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15),(null);
insert into j2 values (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),(13),(14),(15),(null);
#
# ALTER TABLE
#

#TIANMU
ALTER TABLE j1 ADD COLUMN CTINYINT TINYINT;
ALTER TABLE j1 ADD COLUMN CUTINYINT TINYINT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUSMALLINT SMALLINT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUINTEGER INT UNSIGNED;
ALTER TABLE j1 ADD COLUMN CUBIGINT BIGINT UNSIGNED;

UPDATE j1 SET CUTINYINT=253;
UPDATE j1 SET CUSMALLINT=65533;
UPDATE j1 SET CUINTEGER=4294967293;
--error 1264
UPDATE j1 SET CUBIGINT=18446744073709551613;
UPDATE j1 SET CTINYINT=-127 where j1_key=2;
UPDATE j1 SET CTINYINT=0 where j1_key=3;
UPDATE j1 SET CTINYINT=null where j1_key=4;

insert into j1(CUBIGINT) values(null);

SHOW CREATE TABLE j1;

#INNODB
ALTER TABLE j2 ADD COLUMN CTINYINT TINYINT;
ALTER TABLE j2 ADD COLUMN CUTINYINT TINYINT UNSIGNED;
ALTER TABLE j2 ADD COLUMN CUSMALLINT SMALLINT UNSIGNED;
ALTER TABLE j2 ADD COLUMN CUINTEGER INT UNSIGNED;
ALTER TABLE j2 ADD COLUMN CUBIGINT BIGINT UNSIGNED;

UPDATE j2 SET CUTINYINT=253;
UPDATE j2 SET CUSMALLINT=65533;
UPDATE j2 SET CUINTEGER=4294967293;
UPDATE j2 SET CUBIGINT=18446744073709551613;
UPDATE j2 SET CTINYINT=-127 where j2_key=2;
UPDATE j2 SET CTINYINT=0 where j2_key=3;
UPDATE j2 SET CTINYINT=null where j2_key=4;

SHOW CREATE TABLE j2;

#
# SELECT
#

#TIANMU
SELECT LN(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT LN(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT LN(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT LN(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT LOG(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT LOG(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT LOG(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT LOG(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT LOG2(CUTINYINT) FROM j1 WHERE j1_key=1;
SELECT LOG2(CUSMALLINT) FROM j1 WHERE j1_key=1;
SELECT LOG2(CUINTEGER) FROM j1 WHERE j1_key=1;
SELECT LOG2(CUBIGINT) FROM j1 WHERE j1_key=1;

SELECT LN(CTINYINT) FROM j1 WHERE j1_key=2;
SELECT LN(CTINYINT) FROM j1 WHERE j1_key=3;
SELECT LN(CTINYINT) FROM j1 WHERE j1_key=4;

SELECT LOG(CTINYINT) FROM j1 WHERE j1_key=2;
SELECT LOG(CTINYINT) FROM j1 WHERE j1_key=3;
SELECT LOG(CTINYINT) FROM j1 WHERE j1_key=4;

SELECT LOG2(CTINYINT) FROM j1 WHERE j1_key=2;
SELECT LOG2(CTINYINT) FROM j1 WHERE j1_key=3;
SELECT LOG2(CTINYINT) FROM j1 WHERE j1_key=4;

#INNODB
SELECT LN(CUTINYINT) FROM j2 WHERE j2_key=1;
SELECT LN(CUSMALLINT) FROM j2 WHERE j2_key=1;
SELECT LN(CUINTEGER) FROM j2 WHERE j2_key=1;
SELECT LN(CUBIGINT) FROM j2 WHERE j2_key=1;

SELECT LOG(CUTINYINT) FROM j2 WHERE j2_key=1;
SELECT LOG(CUSMALLINT) FROM j2 WHERE j2_key=1;
SELECT LOG(CUINTEGER) FROM j2 WHERE j2_key=1;
SELECT LOG(CUBIGINT) FROM j2 WHERE j2_key=1;

SELECT LOG2(CUTINYINT) FROM j2 WHERE j2_key=1;
SELECT LOG2(CUSMALLINT) FROM j2 WHERE j2_key=1;
SELECT LOG2(CUINTEGER) FROM j2 WHERE j2_key=1;
SELECT LOG2(CUBIGINT) FROM j2 WHERE j2_key=1;

SELECT LN(CTINYINT) FROM j2 WHERE j2_key=2;
SELECT LN(CTINYINT) FROM j2 WHERE j2_key=3;
SELECT LN(CTINYINT) FROM j2 WHERE j2_key=4;

SELECT LOG(CTINYINT) FROM j2 WHERE j2_key=2;
SELECT LOG(CTINYINT) FROM j2 WHERE j2_key=3;
SELECT LOG(CTINYINT) FROM j2 WHERE j2_key=4;

SELECT LOG2(CTINYINT) FROM j2 WHERE j2_key=2;
SELECT LOG2(CTINYINT) FROM j2 WHERE j2_key=3;
SELECT LOG2(CTINYINT) FROM j2 WHERE j2_key=4;
#END CLEAN

DROP TABLE j1,j2;
DROP DATABASE unsingeddata;
"""

SCRIPT_OUT_OF_RANGE_ISSUE1151 = """--source include/have_tianmu.inc

drop database if exists out_of_range_issue1151;
create database out_of_range_issue1151;
use out_of_range_issue1151;
create table tiny(a tinyint, b tinyint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into tiny values(-128, 0);
insert into tiny values(127, 127);
insert into tiny values(0, 127);
insert into tiny values(-0, -0);
insert into tiny values(+0, +0);
select * from tiny;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into tiny values(-129, 0);
--error 1264
insert into tiny values(128, 0);
--error 1264
insert into tiny values(1234, 0);
# column unsigned b out of value[128, 255], deal with tianmu
# --error 1264,BUG: https://github.com/stoneatom/stonedb/issues/1236
# insert into tiny values(0, 128);
#--error 1264,BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into tiny values(0, 255);
# column unsigned b out of value(>255 || <0), deal with mysql
--error 1264
insert into tiny values(0, -1);
--error 1264
insert into tiny values(0, -127);
--error 1264
insert into tiny values(0, 256);
--error 1264
insert into tiny values(0, 1234567);
select * from tiny;
drop table tiny;

create table small(a smallint, b smallint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into small values(-32768, 0);
insert into small values(0, 0);
insert into small values(122, 122);
insert into small values(32767, 32767);
insert into small values(-0, -0);
insert into small values(+0, +0);
select * from small;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into small values(-32769, 0);
--error 1264
insert into small values(32768, 0);
--error 1264
insert into small values(-3276911, 0);
--error 1264
insert into small values(3276811, 0);
# column unsigned b out of value[32768, 65535], deal with tianmu
#--error 1264,BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into small values(0, 32768);
#--error 1264,BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into small values(0, 41234);
#--error 1264,BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into small values(0, 65535);
# column unsigned b out of value(>65535 || <0), deal with mysql
--error 1264
insert into small values(0, -1);
--error 1264
insert into small values(0, -32768);
--error 1264
insert into small values(0, 65536);
--error 1264
insert into small values(0, 1234567);
select * from small;
drop table small;

create table medium(a mediumint, b mediumint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into medium values(-8388608, 0);
insert into medium values(0, 0);
insert into medium values(122, 122);
insert into medium values(8388607, 8388607);
insert into medium values(-0, -0);
insert into medium values(+0, +0);
select * from medium;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into medium values(-8388609, 0);
--error 1264
insert into medium values(8388608, 0);
--error 1264
insert into medium values(-8388608111, 0);
--error 1264
insert into medium values(8388608111, 0);
# column unsigned b out of value[8388608, 16777215], deal with tianmu
#--error 1264, BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into medium values(0, 8388608);
#--error 1264, BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into medium values(0, 8388610);
#--error 1264, BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into medium values(0, 16777215);
# column unsigned b out of value(>8388607 || <0), deal with mysql
--error 1264
insert into medium values(0, -1);
--error 1264
insert into medium values(0, -8388608);
--error 1264
insert into medium values(0, 16777216);
--error 1264
insert into medium values(0, 1677721511);
select * from medium;
drop table medium;

create table int_(a int, b int unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly, range[-2147483647, 2147483647]
insert into int_ values(-2147483647, 0);
insert into int_ values(0, 0);
insert into int_ values(122, 122);
insert into int_ values(2147483647, 2147483647);
insert into int_ values(-0, -0);
insert into int_ values(+0, +0);
select * from int_;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into int_ values(-2147483649, 0);
--error 1264
insert into int_ values(2147483648, 0);
--error 1264
insert into int_ values(-214748364811, 0);
--error 1264
insert into int_ values(214748364811, 0);
# column unsigned b out of value[2147483648, 4294967295], deal with tianmu, -2147483648 also deal with tianmu
#--error 1264, BUG: https://github.com/stoneatom/stonedb/issues/1236
#insert into int_ values(-2147483648, 0);
#BUG: https://github.com/stoneatom/stonedb/issues/1236
#--error 1264
#insert into int_ values(0, 2147483648);
#BUG: https://github.com/stoneatom/stonedb/issues/1236
#--error 1264
#insert into int_ values(0, 3294967295);
#--error 1264
#insert into int_ values(0, 4294967295);
# column unsigned b out of value(>4294967295 || <0), deal with mysql
--error 1264
insert into int_ values(0, -1);
--error 1264
insert into int_ values(0, -4294967295);
--error 1264
insert into int_ values(0, 4294967296);
--error 1264
insert into int_ values(0, 429496729611);
select * from int_;
drop table int_;

#create table bigint_(a bigint, b bigint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
## test insert correctly, range [-9223372036854775806, 9223372036854775807]
#insert into bigint_ values(-9223372036854775806, 0);
#insert into bigint_ values(0, 0);
#insert into bigint_ values(122, 122);
#insert into bigint_ values(9223372036854775807, 9223372036854775807);
#insert into bigint_ values(-0, -0);
#insert into bigint_ values(+0, +0);
#select * from bigint_;
## test out of range, currently the max value of unsigned is equal to signed
## column signed a out of value, -9223372036854775808 ret error and -9223372036854775807(null)
#--error 1264
#insert into bigint_ values(-9223372036854775808, 0);
#--error 1264
#insert into bigint_ values(9223372036854775808, 0);
#--error 1264
#insert into bigint_ values(-9223372036854775810, 0);
#--error 1264
#insert into bigint_ values(9223372036854775810, 0);
## column unsigned b out of value[9223372036854775808, 18446744073709551615], deal with tianmu
#--error 1264
#insert into bigint_ values(0, 9223372036854775808);
#--error 1264
#insert into bigint_ values(0, 10223372036854775808);
#--error 1264
#insert into bigint_ values(0, 18446744073709551615);
## column unsigned b out of value(>18446744073709551615 || <0), deal with mysql
#--error 1264
#insert into bigint_ values(0, -1);
#--error 1264
#insert into bigint_ values(0, -4294967295);
#--error 1264
#insert into bigint_ values(0, 18446744073709551616);
#--error 1264
#insert into bigint_ values(0, 1844674407370955161566);
#select * from bigint_;
#drop table bigint_;
drop database if exists out_of_range_issue1151;
"""

SCRIPT_BIGINT_UNSIGNED_X = """create table t1 (a bigint unsigned not null, primary key(a));
insert into t1 values (9223372036854775807), (0xFFFFFFFFFFFFFF), (9223372036854775806), (9223372036854775805);
select * from t1 order by 1;
select * from t1 where a=9223372036854775807;
select * from t1 where a='9223372036854775807';
delete from t1 where a=9223372036854775807;
select * from t1 order by 1;
drop table t1;

create table t1 ( a int not null default 1, big bigint );
insert into t1 (big) values (-1),(12345678901234567),(9223372036854775807),(9223372036854775805);
select * from t1;
select min(big),max(big),max(big)-1 from t1;
select min(big),max(big),max(big)-1 from t1 group by a;
--error 1264
alter table t1 modify big bigint unsigned not null;
select min(big),max(big),max(big)-1 from t1;
select min(big),max(big),max(big)-1 from t1 group by a;
insert into t1 (big) values (9223372036854775807);
select * from t1;
select min(big),max(big),max(big)-1 from t1;
select min(big),max(big),max(big)-1 from t1 group by a;
select min(big),max(big),max(big)-1 from t1;
select min(big),max(big),max(big)-1 from t1 group by a;
alter table t1 modify big bigint not null;
select * from t1;
select min(big),max(big),max(big)-1 from t1;
select min(big),max(big),max(big)-1 from t1 group by a;
drop table t1;
create table t1 (id bigint auto_increment primary key, a int) auto_increment=9999999999;
insert into t1 values (null,1);
select * from t1;
select * from t1 limit 9999999999;
drop table t1;
CREATE TABLE t1 (quantity decimal(18,0));
insert into t1 values (100000000000000);
insert into t1 values (10000000000000.0);
insert into t1 values ('10000000000000');
select * from t1;
drop table t1;
create table t1 (
 value64  bigint unsigned  not null,
 value32  integer          not null,
 primary key(value64, value32)
);

create table t2 (
 value64  bigint unsigned  not null,
 value32  integer          not null,
 primary key(value64, value32)
);

insert into t1 values(9223372036854775806, 1);
insert into t1 values(9223372036854775807, 2);
insert into t2 values(9223372036854775806, 3);
insert into t2 values(9223372036854775807, 4);

select * from t1;
select * from t2;
select * from t1, t2 where t1.value64=9223372036854775806 and t2.value64=9223372036854775806;
select * from t1, t2 where t1.value64=9223372036854775806 and t2.value64=t1.value64;
select * from t1, t2 where t1.value64= 9223372036854775807 and t2.value64=9223372036854775807;
select * from t1, t2 where t1.value64= 9223372036854775807 and t2.value64=t1.value64;
drop table t1, t2;

# Test bigint 

create table t1 (sint64 bigint not null);
insert into t1 values (-9223372036854775806);
select * from t1;
drop table t1;

create table t1 (quantity decimal(2) unsigned);
insert into t1 values (50), (0), (1);
select * from t1;
drop table t1;

#mod is signed with bigint

select cast(9223372036854775807 as unsigned) mod 50 as result;
create table t1 (c1 bigint unsigned);
insert into t1 values (9223372036854775807);
"""

SCRIPT_SELECT_FUNCTION_CALLS_X = """--echo #
--echo # Test SELECT FUNCTION call
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

SET GLOBAL log_bin_trust_function_creators = 1;
--disable_warnings
DROP DATABASE IF EXISTS mcs_db3;
--enable_warnings

CREATE DATABASE mcs_db3;
USE mcs_db3;

CREATE TABLE t1(col INT)Engine=tianmu;
INSERT INTO t1 VALUEs(1),(2),(3),(4),(5),(6),(7),(8),(9),(10);

# Function that returns square of a number
CREATE FUNCTION func(num int) RETURNS INT RETURN(POW(num,2));

SET @a = func(11);
SET @b = 15;
SELECT @a;
SELECT func(@a);
SELECT func(-@b);
SELECT func(0);
SELECT func(11+22);
SELECT func(11-22);
SELECT func(11*22);
SELECT func(11/22);

SELECT col,@a FROM t1;

# ERROR 6 (HY000):includes syntax that is not supported by the storage engine tianmu
#SELECT col AS 'num', func(col) as 'square of num' from t1;

--error 1064
SELECT f1(@b) AS 'square of 99', * FROM t1;
--error 1318
SELECT func();

--error 1305
SELECT fun(@b);
"""

SCRIPT_INSERT_SELECT_X = """--source include/have_tianmu.inc

--echo #
--echo # Problem with INSERT ... SELECT
--echo #

--disable_warnings
DROP DATABASE IF EXISTS insert_select_db;
--enable_warnings

CREATE DATABASE insert_select_db;
USE insert_select_db;

SET sql_mode = 'NO_ENGINE_SUBSTITUTION,NO_AUTO_CREATE_USER';
create table t1 (bandID MEDIUMINT NOT NULL PRIMARY KEY, payoutID SMALLINT NOT NULL);
insert into t1 (bandID,payoutID) VALUES (1,6),(2,6),(3,4),(4,9),(5,10),(6,1),(7,12),(8,12);
create table t2 (payoutID SMALLINT NOT NULL PRIMARY KEY);
insert into t2 (payoutID) SELECT DISTINCT payoutID FROM t1;

select * from t2 order by payoutID;
drop table t1,t2;

--echo #
--echo # Test of insert ... select from same table
--echo #

create table t1 (a int not null);
create table t2 (a int not null);
insert into t1 values (1);
insert into t1 values (a+2);
insert into t1 values (a+3);
insert into t1 values (4),(a+5);
insert into t1 select * from t1;
--sorted_result
select * from t1;
insert into t1 select * from t1 as t2;
--sorted_result
select * from t1;
insert into t2 select * from t1 as t2;
--sorted_result
select * from t1;
insert into t1 select t2.a from t1,t2;
--sorted_result
select * from t1;
--error 1066
insert into t1 select * from t1,t1;
drop table t1,t2;
"""

SCRIPT_UNSIGNED_GREATEST = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS unsigned_greatest_test;
--enable_warnings

CREATE DATABASE unsigned_greatest_test;
USE unsigned_greatest_test;

Create table datatypetestm (
CIDX            INTEGER,
CBIGINT         BIGINT,
CDECIMAL1       DECIMAL(1),
CDECIMAL4       DECIMAL(4),
CDECIMAL4_2     DECIMAL(4,2),
CDECIMAL5       DECIMAL(5),
CDECIMAL9       DECIMAL(9),
CDECIMAL9_2     DECIMAL(9,2),
CDECIMAL10      DECIMAL(10),
CDECIMAL18      DECIMAL(18),
CDECIMAL18_2    DECIMAL(18,2),
CINTEGER        INTEGER,
CSMALLINT       SMALLINT,
CTINYINT        TINYINT,
CDOUBLE         DOUBLE,
CFLOAT          FLOAT,
CDATE           DATE,
CDATETIME       DATETIME,
CCHAR1  CHAR(1),
CCHAR2  CHAR(2),
CCHAR3  CHAR(3),
CCHAR4  CHAR(4),
CCHAR5  CHAR(5),
CCHAR6  CHAR(6),
CCHAR7  CHAR(7),
CCHAR8  CHAR(8),
CCHAR9  CHAR(9),
CCHAR255        CHAR(255),
CVCHAR1         VARCHAR(1),
CVCHAR2         VARCHAR(2),
CVCHAR3         VARCHAR(3),
CVCHAR4         VARCHAR(4),
CVCHAR5         VARCHAR(5),
CVCHAR6         VARCHAR(6),
CVCHAR7         VARCHAR(7),
CVCHAR8         VARCHAR(8),
CVCHAR255       VARCHAR(255)
);

insert into datatypetestm values 
(1,-72036854775806,-9,-999,-9.99,-999,-999999,-9999.99,-9999999,-9999999999999,-99999999999.99,-7483646,-766,-26,-1.797693231E+108,-3.402866E+18,'1997-01-01','1997-01-01 00:00:00','a','aa','aaa','aaaa','aaaaa','aaaaaa','aaaaaaa','aaaaaaaa','aaaaaaaaa','aaaaaaaaaa','a','aa','aaa','aaaa','aaaaa','aaaaaa','aaaaaaa','aaaaaaaa','aaaaaaaaaa'),
(2,-72036854775805,-8,-998,-9.98,-998,-999998,-9999.98,-9999998,-9999999999998,-99999999999.98,-7483645,-765,-25,-1.797693230E+108,-3.402865E+18,'1997-01-01','1997-01-01 00:00:01','a','b','c','d','e','f','g','h','i','j','a','b','c','d','e','f','g','h','j'),
(3,-72036854775804,-7,-997,-9.97,-997,-999997,-9999.97,-9999997,-9999999999997,-99999999999.97,-7483644,-764,-24,-1.797693229E+108,-3.402864E+18,'1997-01-02','1997-01-02 00:00:01','a','bb','cc','dd','ee','ff','gg','hh','ii','jj','a','bb','cc','dd','ee','ff','gg','hh','jj'),
(4,-72036854775803,-6,-996,-9.96,-996,-999996,-9999.96,-9999996,-9999999999996,-99999999999.96,-7483643,-763,-23,-1.797693228E+108,-3.402863E+18,'1997-01-03','1997-01-03 00:00:02','a','bb','ccc','ddd','eee','fff','ggg','hhh','iii','jjj','a','bb','ccc','ddd','eee','fff','ggg','hhh','jjj'),
(5,-72036854775802,-5,-995,-9.95,-995,-999995,-9999.95,-9999995,-9999999999995,-99999999999.95,-7483642,-762,-22,-1.797693227E+108,-3.402862E+18,'1997-01-04','1997-01-04 00:00:03','a','bb','ccc','dddd','eeee','ffff','gggg','hhhh','iiii','jjjj','a','bb','ccc','dddd','eeee','ffff','gggg','hhhh','jjjj'),
(6,72036854775803,5,995,9.95,995,999995,9999.95,9999995,9999999999995,99999999999.95,7483643,763,23,1.797693227E+108,3.402862E+18,'2009-12-28','2009-12-31 23:59:56','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','sssssss','rrrrrrr','qqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','sssssss','qqqqqqq'),
(7,72036854775804,6,996,9.96,996,999996,9999.96,9999996,9999999999996,99999999999.96,7483644,764,24,1.797693228E+108,3.402863E+18,'2009-12-29','2009-12-31 23:59:57','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrr','qqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqq'),
(8,72036854775805,7,997,9.97,997,999997,9999.97,9999997,9999999999997,99999999999.97,7483645,765,25,1.797693229E+108,3.402864E+18,'2009-12-30','2009-12-31 23:59:58','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrrr','qqqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqqq'),
(9,72036854775806,8,998,9.98,998,999998,9999.98,9999998,9999999999998,99999999999.98,7483646,766,26,1.797693230E+108,3.402865E+18,'2009-12-31','2009-12-31 23:59:59','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrrr','qqqqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqqqq'),
(10,72036854775807,9,999,9.99,999,999999,9999.99,9999999,9999999999999,99999999999.99,7483647,767,27,1.797693231E+108,3.402866E+18,'2009-12-31','2009-12-31 23:59:59','z','zz','zzz','zzzz','zzzzz','zzzzzz','zzzzzzz','zzzzzzzz','zzzzzzzzz','zzzzzzzzzz','z','zz','zzz','zzzz','zzzzz','zzzzzz','zzzzzzz','zzzzzzzz','zzzzzzzzzz'),
(11,0,0,0,0.00,0,0,0.00,0,0,0.00,0,0,0,0.00,0.00,'2009-12-31','2009-12-31 23:59:59',NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL);

ALTER TABLE datatypetestm ADD COLUMN CUTINYINT TINYINT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUSMALLINT SMALLINT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUINTEGER INT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUBIGINT BIGINT UNSIGNED;
UPDATE datatypetestm SET CUTINYINT=CTINYINT + 100;
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT + 20000;
UPDATE datatypetestm SET CUINTEGER=CINTEGER + 1140000000;
UPDATE datatypetestm SET CUBIGINT=CBIGINT + 5223000000000000;

select cidx, CUBIGINT, GREATEST(CUBIGINT,CBIGINT,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUSMALLINT, GREATEST(CDECIMAL1,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUTINYINT, GREATEST(CDECIMAL1,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL1, CUBIGINT, GREATEST(CDECIMAL1,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4, CUSMALLINT, GREATEST(CDECIMAL4,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4, CUTINYINT, GREATEST(CDECIMAL4,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4, CUBIGINT, GREATEST(CDECIMAL4,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUSMALLINT, GREATEST(CDECIMAL4_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4_2, CUTINYINT, GREATEST(CDECIMAL4_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUBIGINT, GREATEST(CDECIMAL4_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9, CUSMALLINT, GREATEST(CDECIMAL9,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9, CUTINYINT, GREATEST(CDECIMAL9,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9, CUBIGINT, GREATEST(CDECIMAL9,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUSMALLINT, GREATEST(CDECIMAL9_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9_2, CUTINYINT, GREATEST(CDECIMAL9_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUBIGINT, GREATEST(CDECIMAL9_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18, CUSMALLINT, GREATEST(CDECIMAL18,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18, CUTINYINT, GREATEST(CDECIMAL18,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18, CUBIGINT, GREATEST(CDECIMAL18,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUSMALLINT, GREATEST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18_2, CUTINYINT, GREATEST(CDECIMAL18_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUBIGINT, GREATEST(CDECIMAL18_2,CUBIGINT) from datatypetestm;
select cidx, CINTEGER, CUINTEGER, GREATEST(CUINTEGER,CINTEGER,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CINTEGER, CUSMALLINT, GREATEST(CINTEGER,CUSMALLINT) from datatypetestm;
select cidx, CINTEGER, CUTINYINT, GREATEST(CINTEGER,CUTINYINT) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, GREATEST(CSMALLINT,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, GREATEST(CSMALLINT,CUSMALLINT) from datatypetestm;
select cidx, CSMALLINT, CUTINYINT, GREATEST(CSMALLINT,CUTINYINT) from datatypetestm;
select cidx, CUBIGINT from datatypetestm where GREATEST(CUBIGINT,CSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CUSMALLINT,CSMALLINT) <> CUSMALLINT;
select cidx, CUBIGINT from datatypetestm where GREATEST(CDECIMAL18,CUBIGINT,CUSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CDECIMAL18 from datatypetestm where GREATEST(CDECIMAL18,CUSMALLINT) <> CDECIMAL18;
select cidx, CDECIMAL18 from datatypetestm where GREATEST(CDECIMAL18,CUTINYINT) <> CDECIMAL18;
select cidx, CDECIMAL18_2 from datatypetestm where GREATEST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CINTEGER,CUSMALLINT,CUTINYINT,10) <> CINTEGER;
select cidx, CINTEGER from datatypetestm where GREATEST(CINTEGER,CUTINYINT) <> CINTEGER;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CSMALLINT,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CSMALLINT from datatypetestm where GREATEST(CSMALLINT,CUTINYINT) <> CSMALLINT;
select cidx, CUTINYINT from datatypetestm where GREATEST(CTINYINT,CSMALLINT,CUTINYINT,10) <> CUTINYINT;
select cidx, CUTINYINT from datatypetestm where GREATEST(CTINYINT,CUTINYINT) <> CUTINYINT;

--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUTINYINT=CTINYINT-1;
UPDATE datatypetestm SET CUTINYINT=CTINYINT-1 WHERE CTINYINT > 0;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT-1;
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT-1 WHERE CSMALLINT > 0;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUINTEGER=CINTEGER-1;
UPDATE datatypetestm SET CUINTEGER=CINTEGER-1 WHERE CINTEGER > 0;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUBIGINT=CBIGINT-1;
UPDATE datatypetestm SET CUBIGINT=CBIGINT-1 WHERE CBIGINT > 0;

select cidx, CUBIGINT, GREATEST(CUBIGINT,CBIGINT,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUSMALLINT, GREATEST(CDECIMAL1,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUTINYINT, GREATEST(CDECIMAL1,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL1, CUBIGINT, GREATEST(CDECIMAL1,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4, CUSMALLINT, GREATEST(CDECIMAL4,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4, CUTINYINT, GREATEST(CDECIMAL4,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4, CUBIGINT, GREATEST(CDECIMAL4,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUSMALLINT, GREATEST(CDECIMAL4_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4_2, CUTINYINT, GREATEST(CDECIMAL4_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUBIGINT, GREATEST(CDECIMAL4_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9, CUSMALLINT, GREATEST(CDECIMAL9,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9, CUTINYINT, GREATEST(CDECIMAL9,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9, CUBIGINT, GREATEST(CDECIMAL9,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUSMALLINT, GREATEST(CDECIMAL9_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9_2, CUTINYINT, GREATEST(CDECIMAL9_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUBIGINT, GREATEST(CDECIMAL9_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18, CUSMALLINT, GREATEST(CDECIMAL18,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18, CUTINYINT, GREATEST(CDECIMAL18,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18, CUBIGINT, GREATEST(CDECIMAL18,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUSMALLINT, GREATEST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18_2, CUTINYINT, GREATEST(CDECIMAL18_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUBIGINT, GREATEST(CDECIMAL18_2,CUBIGINT) from datatypetestm;
select cidx, CINTEGER, CUINTEGER, GREATEST(CUINTEGER,CINTEGER,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CINTEGER, CUSMALLINT, GREATEST(CINTEGER,CUSMALLINT) from datatypetestm;
select cidx, CINTEGER, CUTINYINT, GREATEST(CINTEGER,CUTINYINT) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, GREATEST(CSMALLINT,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, GREATEST(CSMALLINT,CUSMALLINT) from datatypetestm;
select cidx, CSMALLINT, CUTINYINT, GREATEST(CSMALLINT,CUTINYINT) from datatypetestm;
select cidx, CUBIGINT from datatypetestm where GREATEST(CUBIGINT,CSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CUSMALLINT,CSMALLINT) <> CUSMALLINT;
select cidx, CUBIGINT from datatypetestm where GREATEST(CDECIMAL18,CUBIGINT,CUSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CDECIMAL18 from datatypetestm where GREATEST(CDECIMAL18,CUSMALLINT) <> CDECIMAL18;
select cidx, CDECIMAL18 from datatypetestm where GREATEST(CDECIMAL18,CUTINYINT) <> CDECIMAL18;
select cidx, CDECIMAL18_2 from datatypetestm where GREATEST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CINTEGER,CUSMALLINT,CUTINYINT,10) <> CINTEGER;
select cidx, CINTEGER from datatypetestm where GREATEST(CINTEGER,CUTINYINT) <> CINTEGER;
select cidx, CUSMALLINT from datatypetestm where GREATEST(CSMALLINT,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CSMALLINT from datatypetestm where GREATEST(CSMALLINT,CUTINYINT) <> CSMALLINT;
select cidx, CUTINYINT from datatypetestm where GREATEST(CTINYINT,CSMALLINT,CUTINYINT,10) <> CUTINYINT;
select cidx, CUTINYINT from datatypetestm where GREATEST(CTINYINT,CUTINYINT) <> CUTINYINT;

ALTER TABLE datatypetestm DROP COLUMN CUTINYINT;
ALTER TABLE datatypetestm DROP COLUMN CUSMALLINT;
ALTER TABLE datatypetestm DROP COLUMN CUINTEGER;
ALTER TABLE datatypetestm DROP COLUMN CUBIGINT;

# Clean UP
DROP DATABASE unsigned_greatest_test;
"""

SCRIPT_UNSIGNED_LEAST = """--source include/have_tianmu.inc

--echo #
--echo # Test unsigned_least
--echo #

--disable_warnings
DROP DATABASE IF EXISTS unsigned_least_test;
--enable_warnings

CREATE DATABASE unsigned_least_test;
USE unsigned_least_test;

Create table datatypetestm (
CIDX            INTEGER,
CBIGINT         BIGINT,
CDECIMAL1       DECIMAL(1),
CDECIMAL4       DECIMAL(4),
CDECIMAL4_2     DECIMAL(4,2),
CDECIMAL5       DECIMAL(5),
CDECIMAL9       DECIMAL(9),
CDECIMAL9_2     DECIMAL(9,2),
CDECIMAL10      DECIMAL(10),
CDECIMAL18      DECIMAL(18),
CDECIMAL18_2    DECIMAL(18,2),
CINTEGER        INTEGER,
CSMALLINT       SMALLINT,
CTINYINT        TINYINT,
CDOUBLE         DOUBLE,
CFLOAT          FLOAT,
CDATE           DATE,
CDATETIME       DATETIME,
CCHAR1  CHAR(1),
CCHAR2  CHAR(2),
CCHAR3  CHAR(3),
CCHAR4  CHAR(4),
CCHAR5  CHAR(5),
CCHAR6  CHAR(6),
CCHAR7  CHAR(7),
CCHAR8  CHAR(8),
CCHAR9  CHAR(9),
CCHAR255        CHAR(255),
CVCHAR1         VARCHAR(1),
CVCHAR2         VARCHAR(2),
CVCHAR3         VARCHAR(3),
CVCHAR4         VARCHAR(4),
CVCHAR5         VARCHAR(5),
CVCHAR6         VARCHAR(6),
CVCHAR7         VARCHAR(7),
CVCHAR8         VARCHAR(8),
CVCHAR255       VARCHAR(255)
);

insert into datatypetestm values 
(1,-72036854775806,-9,-999,-9.99,-999,-999999,-9999.99,-9999999,-9999999999999,-99999999999.99,-7483646,-766,-26,-1.797693231E+108,-3.402866E+18,'1997-01-01','1997-01-01 00:00:00','a','aa','aaa','aaaa','aaaaa','aaaaaa','aaaaaaa','aaaaaaaa','aaaaaaaaa','aaaaaaaaaa','a','aa','aaa','aaaa','aaaaa','aaaaaa','aaaaaaa','aaaaaaaa','aaaaaaaaaa'),
(2,-72036854775805,-8,-998,-9.98,-998,-999998,-9999.98,-9999998,-9999999999998,-99999999999.98,-7483645,-765,-25,-1.797693230E+108,-3.402865E+18,'1997-01-01','1997-01-01 00:00:01','a','b','c','d','e','f','g','h','i','j','a','b','c','d','e','f','g','h','j'),
(3,-72036854775804,-7,-997,-9.97,-997,-999997,-9999.97,-9999997,-9999999999997,-99999999999.97,-7483644,-764,-24,-1.797693229E+108,-3.402864E+18,'1997-01-02','1997-01-02 00:00:01','a','bb','cc','dd','ee','ff','gg','hh','ii','jj','a','bb','cc','dd','ee','ff','gg','hh','jj'),
(4,-72036854775803,-6,-996,-9.96,-996,-999996,-9999.96,-9999996,-9999999999996,-99999999999.96,-7483643,-763,-23,-1.797693228E+108,-3.402863E+18,'1997-01-03','1997-01-03 00:00:02','a','bb','ccc','ddd','eee','fff','ggg','hhh','iii','jjj','a','bb','ccc','ddd','eee','fff','ggg','hhh','jjj'),
(5,-72036854775802,-5,-995,-9.95,-995,-999995,-9999.95,-9999995,-9999999999995,-99999999999.95,-7483642,-762,-22,-1.797693227E+108,-3.402862E+18,'1997-01-04','1997-01-04 00:00:03','a','bb','ccc','dddd','eeee','ffff','gggg','hhhh','iiii','jjjj','a','bb','ccc','dddd','eeee','ffff','gggg','hhhh','jjjj'),
(6,72036854775803,5,995,9.95,995,999995,9999.95,9999995,9999999999995,99999999999.95,7483643,763,23,1.797693227E+108,3.402862E+18,'2009-12-28','2009-12-31 23:59:56','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','sssssss','rrrrrrr','qqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','sssssss','qqqqqqq'),
(7,72036854775804,6,996,9.96,996,999996,9999.96,9999996,9999999999996,99999999999.96,7483644,764,24,1.797693228E+108,3.402863E+18,'2009-12-29','2009-12-31 23:59:57','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrr','qqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqq'),
(8,72036854775805,7,997,9.97,997,999997,9999.97,9999997,9999999999997,99999999999.97,7483645,765,25,1.797693229E+108,3.402864E+18,'2009-12-30','2009-12-31 23:59:58','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrrr','qqqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqqq'),
(9,72036854775806,8,998,9.98,998,999998,9999.98,9999998,9999999999998,99999999999.98,7483646,766,26,1.797693230E+108,3.402865E+18,'2009-12-31','2009-12-31 23:59:59','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','rrrrrrrrr','qqqqqqqqqq','z','yy','xxx','wwww','vvvvv','uuuuuu','ttttttt','ssssssss','qqqqqqqqqq'),
(10,72036854775807,9,999,9.99,999,999999,9999.99,9999999,9999999999999,99999999999.99,7483647,767,27,1.797693231E+108,3.402866E+18,'2009-12-31','2009-12-31 23:59:59','z','zz','zzz','zzzz','zzzzz','zzzzzz','zzzzzzz','zzzzzzzz','zzzzzzzzz','zzzzzzzzzz','z','zz','zzz','zzzz','zzzzz','zzzzzz','zzzzzzz','zzzzzzzz','zzzzzzzzzz'),
(11,0,0,0,0.00,0,0,0.00,0,0,0.00,0,0,0,0.00,0.00,'2009-12-31','2009-12-31 23:59:59',NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL,NULL);

ALTER TABLE datatypetestm ADD COLUMN CUTINYINT TINYINT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUSMALLINT SMALLINT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUINTEGER INT UNSIGNED;
ALTER TABLE datatypetestm ADD COLUMN CUBIGINT BIGINT UNSIGNED;
UPDATE datatypetestm SET CUTINYINT=CTINYINT + 120;
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT + 20000;
UPDATE datatypetestm SET CUINTEGER=CINTEGER + 1140000000;
UPDATE datatypetestm SET CUBIGINT=CBIGINT + 5223000000000000000;

select cidx, CBIGINT, CUBIGINT, LEAST(CUBIGINT,CBIGINT,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUSMALLINT, LEAST(CDECIMAL1,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUTINYINT, LEAST(CDECIMAL1,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL1, CUBIGINT, LEAST(CDECIMAL1,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4, CUSMALLINT, LEAST(CDECIMAL4,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4, CUTINYINT, LEAST(CDECIMAL4,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4, CUBIGINT, LEAST(CDECIMAL4,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUSMALLINT, LEAST(CDECIMAL4_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4_2, CUTINYINT, LEAST(CDECIMAL4_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUBIGINT, LEAST(CDECIMAL4_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9, CUSMALLINT, LEAST(CDECIMAL9,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9, CUTINYINT, LEAST(CDECIMAL9,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9, CUBIGINT, LEAST(CDECIMAL9,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUSMALLINT, LEAST(CDECIMAL9_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9_2, CUTINYINT, LEAST(CDECIMAL9_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUBIGINT, LEAST(CDECIMAL9_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18, CUSMALLINT, LEAST(CDECIMAL18,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18, CUTINYINT, LEAST(CDECIMAL18,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18, CUBIGINT, LEAST(CDECIMAL18,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUSMALLINT, LEAST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18_2, CUTINYINT, LEAST(CDECIMAL18_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUBIGINT, LEAST(CDECIMAL18_2,CUBIGINT) from datatypetestm;
select cidx, CINTEGER, CUINTEGER, LEAST(CUINTEGER,CINTEGER,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CINTEGER, CUSMALLINT, LEAST(CINTEGER,CUSMALLINT) from datatypetestm;
select cidx, CINTEGER, CUTINYINT, LEAST(CINTEGER,CUTINYINT) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, LEAST(CSMALLINT,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, LEAST(CSMALLINT,CUSMALLINT) from datatypetestm;
select cidx, CSMALLINT, CUTINYINT, LEAST(CSMALLINT,CUTINYINT) from datatypetestm;
select cidx, CUBIGINT from datatypetestm where LEAST(CUBIGINT,CSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CUSMALLINT from datatypetestm where LEAST(CUSMALLINT,CSMALLINT) <> CUSMALLINT;
select cidx, CUBIGINT from datatypetestm where LEAST(CDECIMAL18,CUBIGINT,CUSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CDECIMAL18 from datatypetestm where LEAST(CDECIMAL18,CUSMALLINT) <> CDECIMAL18;
select cidx, CDECIMAL18 from datatypetestm where LEAST(CDECIMAL18,CUTINYINT) <> CDECIMAL18;
select cidx, CDECIMAL18_2 from datatypetestm where LEAST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CUSMALLINT from datatypetestm where LEAST(CINTEGER,CUSMALLINT,CUTINYINT,10) <> CINTEGER;
select cidx, CINTEGER from datatypetestm where LEAST(CINTEGER,CUTINYINT) <> CINTEGER;
select cidx, CUSMALLINT from datatypetestm where LEAST(CSMALLINT,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CSMALLINT from datatypetestm where LEAST(CSMALLINT,CUTINYINT) <> CSMALLINT;
select cidx, CUTINYINT from datatypetestm where LEAST(CTINYINT,CSMALLINT,CUTINYINT,10) <> CUTINYINT;
select cidx, CUTINYINT from datatypetestm where LEAST(CTINYINT,CUTINYINT) <> CUTINYINT;

--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUTINYINT=CTINYINT-1;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT-1;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUINTEGER=CINTEGER-1;
--error ER_WARN_DATA_OUT_OF_RANGE
UPDATE datatypetestm SET CUBIGINT=CBIGINT-1;

UPDATE datatypetestm SET CUTINYINT=CTINYINT-1 WHERE CTINYINT > 0;
UPDATE datatypetestm SET CUSMALLINT=CSMALLINT-1 WHERE CSMALLINT > 0;
UPDATE datatypetestm SET CUINTEGER=CINTEGER-1 WHERE CINTEGER > 0;
UPDATE datatypetestm SET CUBIGINT=CBIGINT-1 WHERE CBIGINT > 0;

select cidx, CBIGINT, CUBIGINT, LEAST(CUBIGINT,CBIGINT,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUSMALLINT, LEAST(CDECIMAL1,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL1, CUTINYINT, LEAST(CDECIMAL1,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL1, CUBIGINT, LEAST(CDECIMAL1,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4, CUSMALLINT, LEAST(CDECIMAL4,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4, CUTINYINT, LEAST(CDECIMAL4,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4, CUBIGINT, LEAST(CDECIMAL4,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUSMALLINT, LEAST(CDECIMAL4_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL4_2, CUTINYINT, LEAST(CDECIMAL4_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL4_2, CUBIGINT, LEAST(CDECIMAL4_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9, CUSMALLINT, LEAST(CDECIMAL9,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9, CUTINYINT, LEAST(CDECIMAL9,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9, CUBIGINT, LEAST(CDECIMAL9,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUSMALLINT, LEAST(CDECIMAL9_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL9_2, CUTINYINT, LEAST(CDECIMAL9_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL9_2, CUBIGINT, LEAST(CDECIMAL9_2,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18, CUSMALLINT, LEAST(CDECIMAL18,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18, CUTINYINT, LEAST(CDECIMAL18,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18, CUBIGINT, LEAST(CDECIMAL18,CUBIGINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUSMALLINT, LEAST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CDECIMAL18_2, CUTINYINT, LEAST(CDECIMAL18_2,CUTINYINT) from datatypetestm;
select cidx, CDECIMAL18_2, CUBIGINT, LEAST(CDECIMAL18_2,CUBIGINT) from datatypetestm;
select cidx, CINTEGER, CUINTEGER, LEAST(CUINTEGER,CINTEGER,CUSMALLINT,CSMALLINT,CUTINYINT,CTINYINT,10) from datatypetestm;
select cidx, CINTEGER, CUSMALLINT, LEAST(CINTEGER,CUSMALLINT) from datatypetestm;
select cidx, CINTEGER, CUTINYINT, LEAST(CINTEGER,CUTINYINT) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, LEAST(CSMALLINT,CUSMALLINT,CUTINYINT,10) from datatypetestm;
select cidx, CSMALLINT, CUSMALLINT, LEAST(CSMALLINT,CUSMALLINT) from datatypetestm;
select cidx, CSMALLINT, CUTINYINT, LEAST(CSMALLINT,CUTINYINT) from datatypetestm;
select cidx, CUBIGINT from datatypetestm where LEAST(CUBIGINT,CSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CUSMALLINT from datatypetestm where LEAST(CUSMALLINT,CSMALLINT) <> CUSMALLINT;
select cidx, CUBIGINT from datatypetestm where LEAST(CDECIMAL18,CUBIGINT,CUSMALLINT,CUTINYINT,10) <> CUBIGINT;
select cidx, CDECIMAL18 from datatypetestm where LEAST(CDECIMAL18,CUSMALLINT) <> CDECIMAL18;
select cidx, CDECIMAL18 from datatypetestm where LEAST(CDECIMAL18,CUTINYINT) <> CDECIMAL18;
select cidx, CDECIMAL18_2 from datatypetestm where LEAST(CDECIMAL18_2,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CUSMALLINT from datatypetestm where LEAST(CINTEGER,CUSMALLINT,CUTINYINT,10) <> CINTEGER;
select cidx, CINTEGER from datatypetestm where LEAST(CINTEGER,CUTINYINT) <> CINTEGER;
select cidx, CUSMALLINT from datatypetestm where LEAST(CSMALLINT,CUSMALLINT,CUTINYINT,10) <> CUSMALLINT;
select cidx, CSMALLINT from datatypetestm where LEAST(CSMALLINT,CUTINYINT) <> CSMALLINT;
select cidx, CUTINYINT from datatypetestm where LEAST(CTINYINT,CSMALLINT,CUTINYINT,10) <> CUTINYINT;
select cidx, CUTINYINT from datatypetestm where LEAST(CTINYINT,CUTINYINT) <> CUTINYINT;

ALTER TABLE datatypetestm DROP COLUMN CUTINYINT;
ALTER TABLE datatypetestm DROP COLUMN CUSMALLINT;
ALTER TABLE datatypetestm DROP COLUMN CUINTEGER;
ALTER TABLE datatypetestm DROP COLUMN CUBIGINT;

# Clean UP
drop table datatypetestm;
DROP DATABASE unsigned_least_test;
"""

SCRIPT_ALTER_UPDATE = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS alter_update;
--enable_warnings

CREATE DATABASE alter_update;

USE alter_update;

CREATE TABLE test (a INT,b INT);

INSERT INTO test(a,b) VALUES (1,37),(64,34),(65,17);

ALTER TABLE test ADD COLUMN c INT;

UPDATE test SET c=b;

SELECT * FROM test;

UPDATE test SET c=a;

SELECT * FROM test;

DROP TABLE test;

DROP DATABASE alter_update;
"""

SCRIPT_ALTER_DELETE = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS alter_delete;
--enable_warnings

CREATE DATABASE alter_delete;

USE alter_delete;

CREATE TABLE ttt1(id INT,name VARCHAR(5));

INSERT INTO ttt1 VALUES(0,"XXX"),(1,'AAA'),(2,'BBB');

SELECT * FROM ttt1;

DELETE FROM ttt1 WHERE id=1;

SELECT * FROM ttt1;

ALTER TABLE ttt1 CONVERT TO CHARACTER SET utf8;

SELECT * FROM ttt1;

SHOW CREATE TABLE ttt1;

DROP TABLE ttt1;

DROP DATABASE alter_delete;
"""

SCRIPT_YEARWEEK_FUNCTION = """--echo #
--echo # YEARWEEK() function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS yearweek_function;
--enable_warnings

CREATE DATABASE yearweek_function;
USE yearweek_function;

CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;
 
INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '2020-12-11 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '1987-01-01 05:28:37');

SELECT YEARWEEK('1020-10-12') FROM t1 LIMIT 1;
SELECT YEARWEEK('2000-01-01', 0) FROM t1 LIMIT 1;
SELECT YEARWEEK('2000-01-01', 1) FROM t1 LIMIT 1;
SELECT YEARWEEK('2000-01-01', 6) FROM t1 LIMIT 1;
SELECT YEARWEEK('2000-01-01', 7) FROM t1 LIMIT 1;
SELECT YEARWEEK('1942-02-13 12:13:14') FROM t1 LIMIT 1;
SELECT YEARWEEK('12:13:14') FROM t1 LIMIT 1;

SELECT t1_DATE, YEARWEEK(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 0) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 1) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 2) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 3) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 4) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 5) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 6) FROM t1 ORDER BY 1;
SELECT t1_DATE, YEARWEEK(t1_DATE, 7) FROM t1 ORDER BY 1;

SELECT t1_DATETIME, YEARWEEK(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 0) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 1) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 2) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 3) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 4) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 5) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 6) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, YEARWEEK(t1_DATETIME, 7) FROM t1 ORDER BY 1;

SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 0) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 1) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 2) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 3) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 4) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 5) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 6) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, YEARWEEK(t1_TIMESTAMP, 7) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE yearweek_function;
"""

SCRIPT_WEEKOFYEAR_FUNCTION = """--echo #
--echo #  WEEKOFYEAR() function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS weekofyear_function;
--enable_warnings

CREATE DATABASE weekofyear_function;
USE weekofyear_function;

CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIMESTAMP TIMESTAMP,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;
 
INSERT INTO t1 VALUES('1991-05-30', '1999-10-28 01:00:50', '2020-12-11 01:08:59');
INSERT INTO t1 VALUES('2991-10-13', '1972-11-22 11:19:52', '2002-02-21 05:28:37');

SELECT WEEKOFYEAR('2020-10-12') FROM t1 LIMIT 1;
SELECT WEEKOFYEAR('2020-05-22') FROM t1 LIMIT 1;
SELECT WEEKOFYEAR('2020-02-13 12:13:14') FROM t1 LIMIT 1;
SELECT WEEKOFYEAR('12:13:14') FROM t1 LIMIT 1;

SELECT t1_DATE, WEEKOFYEAR(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, WEEKOFYEAR(t1_DATETIME) FROM t1 ORDER BY 1;
SELECT t1_TIMESTAMP, WEEKOFYEAR(t1_TIMESTAMP) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE weekofyear_function;
"""

SCRIPT_DAYOFMONTH_FUNCTION = """--echo #
--echo # Test DAYOFMONTH function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs187_db;
--enable_warnings

CREATE DATABASE mcs187_db;
USE mcs187_db;

CREATE TABLE t1 (a DATE, b DATETIME)engine=tianmu;
INSERT INTO t1 VALUES ('1990-10-10', '1990-01-01 0:0:0'), ('1212-12-12', '1212-12-11 11:11:11'), ('3333-03-03', '3333-3-4 3:33:33');
SHOW CREATE TABLE t1;

SELECT DAYOFMONTH('1212-12-12 11:11:11');
SELECT DAYOFMONTH('2020-12-22');

SELECT a, DAYOFMONTH(a) FROM t1 ORDER BY 1;
SELECT b, DAYOFMONTH(b) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE mcs187_db;
"""

SCRIPT_DATE_FUNCTION = """--echo #
--echo # Test DATE function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs183_db;
--enable_warnings

CREATE DATABASE mcs183_db;
USE mcs183_db;

CREATE TABLE t1 (a DATE, b DATETIME)engine=tianmu;
INSERT INTO t1 VALUES ('1990-01-01', '1990-01-01 0:0:0'), ('1212-12-12', '1111-11-11 11:11:11'), ('3333-03-03', '3333-3-3 3:33:33');
SHOW CREATE TABLE t1;

SELECT DATE('1212-12-12 11:11:11');
SELECT DATE('2020-12-22');

SELECT a, DATE(a) FROM t1 ORDER BY 1;
SELECT b, DATE(b) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE mcs183_db;
"""

SCRIPT_EMPTY_STRING_NOT_NULL = """--source include/have_tianmu.inc

--echo #
--echo # tests updates that sets invalid range when we set value at max boundary that is less than max.
--echo #

--disable_warnings
DROP DATABASE IF EXISTS empty_string_not_null;
CREATE DATABASE empty_string_not_null;
USE empty_string_not_null;
--enable_warnings

CREATE TABLE t(s text);
INSERT INTO t(s) VALUES (''), (NULL);

SELECT COUNT(*) FROM t WHERE s IS NULL;
SELECT COUNT(*) FROM t WHERE s IS NOT NULL;

SELECT * FROM t;

DROP TABLE t;

CREATE TABLE t(s text);
# this will test different code path in writeengine.
INSERT INTO t(s) VALUES ('');
INSERT INTO t(s) VALUES (NULL);

SELECT * FROM t;

SELECT COUNT(*) FROM t WHERE s IS NULL;

DROP TABLE t;

CREATE TABLE t(s text) ;
# handling of some obsucure pseudo-null magic value.
INSERT INTO t(s) VALUES ('_CpNuLl_'),(''), (NULL);

SELECT * FROM t;

SELECT COUNT(*) FROM t WHERE s IS NULL;

DROP TABLE t;

# There is a problem with comparison
CREATE TABLE t(c6 CHAR(6)) ;

INSERT INTO t(c6) VALUES ('a'), ('b'), ('c');

SELECT 2, COUNT(*) FROM t WHERE (c6 <= 'b' OR c6 <= '');

SELECT 2, COUNT(*) FROM t WHERE (c6 <= 'b');

SELECT 0, COUNT(*) FROM t WHERE (c6 <= '');

SELECT 0, COUNT(*) FROM t WHERE (c6 <= ' ');

SELECT 2, COUNT(*) FROM t WHERE (c6 <= 'b' OR c6 <= ' ');

SELECT 0, COUNT(*) FROM t WHERE (c6 < '');

SELECT 0, COUNT(*) FROM t WHERE (c6 < ' ');

DROP TABLE IF EXISTS t;
CREATE TABLE t(a CHAR(10));
INSERT INTO t(a) VALUES (''), (NULL), ('   '), (' a ');
SELECT LTRIM(a) FROM t;
SELECT RTRIM(a) FROM t;
#SELECT length(RTRIM(a)) FROM t;
#SELECT length(RTRIM(a)) FROM t;

DROP DATABASE empty_string_not_null;
"""

SCRIPT_INSERT_ON_DUPLICATE_UPDATE = """--echo #
--echo # Test INSERT ON DUPLICATE KEY UPDATE statement
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS insert_on_duplicate_update;
--enable_warnings

CREATE DATABASE insert_on_duplicate_update;
USE insert_on_duplicate_update;

CREATE TABLE t1(
c1 INT primary key not null,
c2 CHAR(5)
) ENGINE=tianmu;

INSERT INTO t1 VALUES (123, 'abc');

INSERT INTO t1 VALUES (123, 'abc') ON DUPLICATE KEY UPDATE c1 = VALUES(c1) + 1;

SELECT * FROM t1;

#Clean up
DROP DATABASE insert_on_duplicate_update;
"""

SCRIPT_ALTER_COLUMN = """--echo #
--echo # Test add, modify, rename, drop column
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS alter_colunm;
--enable_warnings

CREATE DATABASE alter_colunm;
USE alter_colunm;

CREATE TABLE t1 (c1 INT, c2 CHAR(1)) ENGINE=tianmu;
INSERT INTO t1 VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd'), (5, 'e');

#################
# Add New Column
#################

ALTER TABLE t1 ADD COLUMN c11 INT NOT NULL;
--error 1060
ALTER TABLE t1 ADD COLUMN c11 INT(1);
ALTER TABLE t1 ADD COLUMN c21 CHAR(2);

#Duplicate column name
--error 1060
ALTER TABLE t1 ADD COLUMN c11 INT(2);
ALTER TABLE t1 ADD COLUMN c12 CHAR(1) AFTER c11;
ALTER TABLE t1 ADD COLUMN c0 INT FIRST;

#################
# Modify Column
#################

ALTER TABLE t1 MODIFY COLUMN c11 TINYINT;

#################
# Rename Column
#################

ALTER TABLE t1 CHANGE COLUMN c2 c2new CHAR(2);
--error 1054
ALTER TABLE t1 CHANGE COLUMN c2 c2new CHAR(1);
ALTER TABLE t1 CHANGE COLUMN c2new c2 CHAR(1);

#################
# DROP Column
#################

--error 1064
ALTER TABLE t1 DROP COLUMN IF EXISTS c11;
ALTER TABLE t1 DROP COLUMN c11;

SHOW CREATE TABLE t1;
SELECT * FROM t1 ORDER BY c1;

#################
# ADD  COLUMEN BEFORE THE FIRST ADDING COLUMN IS WRONG
#################

CREATE TABLE st1 (
    task_id INT NOT NULL,
    subject VARCHAR(45) NULL,
    start_date DATE NULL,
    end_date DATE NULL,
    description VARCHAR(200) NULL,
    PRIMARY KEY (task_id)
);

--error 6
ALTER TABLE st1 ADD COLUMN test numeric(20,10);

ALTER TABLE st1 ADD COLUMN test1 numeric(8,2);

SHOW CREATE TABLE st1;

#################
# ADD  COLUMEN  WARNING INFO
#################

CREATE TABLE st2 (
    task_id INT NOT NULL,
    subject VARCHAR(45) NULL,
    start_date DATE NULL,
    end_date DATE NULL,
    description VARCHAR(200) NULL,
    PRIMARY KEY (task_id)
); 

--error 1075
ALTER TABLE st2 ADD COLUMN col_name3 int auto_increment;

SHOW CREATE TABLE st2;

#################
# ADD  COLUMN  NOT NULL
#################

CREATE TABLE ttb1(
        id int,
        name varchar(5)
) ENGINE=TIANMU;

INSERT INTO ttb1 VALUES(1,'AAA'),(2,'BBB');

ALTER TABLE ttb1 ADD COLUMN age VARCHAR(5) NOT NULL;

SHOW CREATE TABLE ttb1;

SELECT * FROM ttb1;

#################
# ADD timestamp COLUMN with default current_timestam
#################
create table stu(id int primary key, name char(20))engine=tianmu;

insert into stu(id, name) values(1, 'zhang fei');
insert into stu(id, name) values(2, 'zhao yun');
insert into stu(id, name) values(3, 'zhen ji');
insert into stu(id, name) values(4, 'zhou yu');
insert into stu(id, name) values(5, 'zhu ge liang');
insert into stu(id, name) values(6, 'ma chao');

alter table stu add column ctm2 timestamp default current_timestamp();
select id,name,length(ctm2) from stu;


#################
# CLEAR UP
#################
DROP DATABASE alter_colunm;
"""

SCRIPT_ALTER_TABLE1 = """--source include/have_tianmu.inc

--echo #
--echo # Test alter
--echo #

--disable_warnings
DROP DATABASE IF EXISTS alter_table1_test;
--enable_warnings

CREATE DATABASE alter_table1_test;
USE alter_table1_test;

#alter table add, alter table alter

CREATE TABLE st1
(id INT(11),
name VARCHAR(25),
deptId INT(11),
salary FLOAT
) engine=tianmu;

alter table st1 add column test varchar(4);
alter table st1 add column test1 varchar(4) after test;
#alter table st1 add column test2 varchar(4) first test;
alter table st1 add column test3 varchar(4);

alter table st1 add primary key(id);
alter table st1 alter column id set default 3;
alter table st1 alter column name drop default;
alter table st1 alter column name set default NULL;

--error 1064
alter table st1 alter column id set 'unknown';
--error 1064
alter table st1 alter column id set default;


#alter table drop
alter table st1 drop primary key;
alter table st1 drop name;
desc st1;


#alter table..order by
CREATE TABLE st2
(id INT(11),
name VARCHAR(25),
deptId INT(11),
salary FLOAT
) engine=tianmu;

insert into st2 values(3,'haha1',45,4.5);
insert into st2 values(1,'haha2',12,1.2);
insert into st2 values(4,'haha3',31,3.2);
insert into st2 values(2,'haha4',55,3.5);

alter table st2 order by id;
select * from st2;

alter table st2 order by id,deptId;
select * from st2;

alter table st2 order by deptId,id;
select * from st2;

#test rename table

CREATE TABLE st3
(id INT(11),
name VARCHAR(25),
deptId INT(11),
salary FLOAT,
PRIMARY KEY(id)
) engine=tianmu;

ALTER TABLE st3 RENAME to st4 ;
ALTER TABLE st4 RENAME as st3 ;
ALTER TABLE st3 RENAME to st4 ;
desc st4;

# alter change column name

alter table st4  change name name1 varchar(20);
alter table st4  change column name1 name varchar(25);
alter table st4 change name name2 varchar(20) after salary;
#alter table st4 change name2 name varchar(25) first salary;


#alter table modify

CREATE TABLE st5
(id INT(11),
name VARCHAR(25),
deptId INT(11),
salary FLOAT,
PRIMARY KEY(id)
) engine=tianmu;

alter table st5 modify name varchar(20);
alter table st5 modify column name varchar(24);
alter table st5 modify column name varchar(15) after salary;
#alter table st5 modify column name varchar(30) first salary;

ALTER TABLE st5 modify id varchar(10) CHARACTER SET utf8 COLLATE utf8_general_ci;

#alter table multi table_options

CREATE TABLE st6
(id INT(11),
name VARCHAR(25),
deptId INT(11),
salary FLOAT,
PRIMARY KEY(id)
) engine=tianmu;

alter table st6 rename to st7,add name1 varchar(10);
desc st7;

alter table st7 rename to st8,drop name1;
desc st8;

alter table st8 add name1 varchar(10),drop name;
desc st8;

alter table st8 add name2 varchar(10),change name1 name varchar(10);
desc st8;

alter table st8 add name3 varchar(10),modify name varchar(20);
desc st8;

# clean up
DROP TABLE st8;
DROP TABLE st5;
DROP TABLE st4;
DROP TABLE st2;
DROP TABLE st1;
drop database alter_table1_test;
"""

SCRIPT_UNSIGNED = """--source include/have_tianmu.inc

--echo #
--echo # Test unsigned
--echo #

--disable_warnings
DROP DATABASE IF EXISTS unsigned_test;
--enable_warnings

CREATE DATABASE unsigned_test;
USE unsigned_test;

create table st1 (ukey int, c1 tinyint unsigned, c2 smallint unsigned, c3 int unsigned, c4 bigint unsigned);
insert into st1 values (1,2,3,4,5), (2,127,32767,2147483647,9223372036854775807);
select 'q1', st1.* from st1 order by 1;
--error ER_WARN_DATA_OUT_OF_RANGE
insert into st1 values (3,-127,-32766,-2147483646,-9223372036854775806);
insert into st1 values (4,126,32766,2147483646,9223372036854775806),(5,125,32765,2147483645,9223372036854775805);
--error ER_WARN_DATA_OUT_OF_RANGE
insert into st1 values (6,1255,165535,14294967295,118446744073709551615);
select 'q2', st1.* from st1 where ukey > 2 order by 1;

insert into st1 values (7,NULL,NULL,NULL,NULL);
select 'q3', st1.* from st1 where ukey=7;

--error ER_WARN_DATA_OUT_OF_RANGE
update st1 set c4=-9223372036854775806 where ukey=1;
--error ER_WARN_DATA_OUT_OF_RANGE
update st1 set c3=-2147483646 where ukey=1;
--error ER_WARN_DATA_OUT_OF_RANGE
update st1 set c2=-32766 where ukey=1;
--error ER_WARN_DATA_OUT_OF_RANGE
update st1 set c1=-127 where ukey between 0 and 2;
select 'q4', st1.* from st1 where ukey<2;

update st1 set c3=2147483646 where ukey=4;
update st1 set c2=32766 where ukey=4;
update st1 set c1=125 where ukey between 4 and 5;
select 'q5', st1.* from st1 where ukey>3 order by 2;

create table st2 (ukey int, c1 tinyint unsigned, c2 smallint unsigned, c3 int unsigned, c4 bigint unsigned);
insert into st2 values (8,125,32764,2147483645,9223372036854775800), (9,126,32766,2147483646,9223372036854775800),(10,127,32767,2147483647,9223372036854775801);
select 'q6', st2.* from st2 where c1 between 125 and 127;
select 'q7', st2.* from st2 where c2 between 32764 and 32767;
select 'q8', st2.* from st2 where c3 between 2147483645 and 2147483647;
select 'q9', st2.* from st2 where c4 between 9223372036854775800 and 9223372036854775801;

--disable_warnings
drop table if exists st1;
drop table if exists st2;
DROP TABLE if exists st3;
--enable_warnings

create table st3 (ukey bigint unsigned, c1 float unsigned, c2 double unsigned, c3 decimal(5,2) unsigned, c4 decimal(18,6) unsigned);
insert into st3 values (0,2.22507385E-18, 2.225073858507201E-307, 123.45, 1234567890.12345678); 
select 'q10', st3.* from st3 order by st3.ukey;

--error ER_WARN_DATA_OUT_OF_RANGE
insert into st3 values (0,-2.22507385E-18, -2.225073858507201E-307, -123.45, -1234567890.12345678); 
select 'q11', st3.* from st3 order by st3.ukey;

--error ER_WARN_DATA_OUT_OF_RANGE
insert into st3 values (0,0.0, 0.0, 43123.45, 34321234567890.12345678); 
select 'q12', st3.* from st3 order by st3.ukey;
select 'q13', st3.* from st3 where c2 > 0 order by st3.ukey;
insert into st3 values (0,0.0, 0.0, 0.0, 0); 
select 'q12', st3.* from st3 order by st3.ukey;

--disable_warnings
DROP TABLE if exists st3;
DROP TABLE IF EXISTS st4;
--enable_warnings

CREATE TABLE st4 (ukey TINYINT UNSIGNED, c1 INT UNSIGNED);
INSERT INTO st4 VALUES (0,1); 
INSERT INTO st4 VALUES (0,2); 
INSERT INTO st4 VALUES (0,3); 
INSERT INTO st4 VALUES (0,4); 
INSERT INTO st4 VALUES (0,5); 
SELECT 'q13', st4.* FROM st4 ORDER BY st4.ukey;

DROP TABLE IF EXISTS st4;
CREATE TABLE st4 (ukey SMALLINT UNSIGNED, c1 INT UNSIGNED);
INSERT INTO st4 VALUES (0,1); 
INSERT INTO st4 VALUES (0,2); 
INSERT INTO st4 VALUES (0,3); 
INSERT INTO st4 VALUES (0,4); 
INSERT INTO st4 VALUES (0,5); 
SELECT 'q13', st4.* FROM st4 ORDER BY st4.ukey;

DROP TABLE IF EXISTS st4;
CREATE TABLE st4 (ukey INT UNSIGNED, c1 INT UNSIGNED);
INSERT INTO st4 VALUES (0,1); 
INSERT INTO st4 VALUES (0,2); 
INSERT INTO st4 VALUES (0,3); 
INSERT INTO st4 VALUES (0,4); 
INSERT INTO st4 VALUES (0,5); 
SELECT 'q13', st4.* FROM st4 ORDER BY st4.ukey;

DROP TABLE IF EXISTS st4;
CREATE TABLE st4 (ukey BIGINT UNSIGNED, c1 INT UNSIGNED);
INSERT INTO st4 VALUES (0,1); 
INSERT INTO st4 VALUES (0,2); 
INSERT INTO st4 VALUES (0,3); 
INSERT INTO st4 VALUES (0,4); 
INSERT INTO st4 VALUES (0,5); 
SELECT 'q13', st4.* FROM st4 ORDER BY st4.ukey;
DROP TABLE IF EXISTS st4;

# Clean UP
DROP DATABASE unsigned_test;
"""

SCRIPT_CREATE_TMP = """--source include/have_tianmu.inc

--echo #
--echo # Test create temporary
--echo #

--disable_warnings
DROP DATABASE IF EXISTS create_tmp_test;
--enable_warnings

CREATE DATABASE create_tmp_test;
USE create_tmp_test;

CREATE TEMPORARY TABLE st (
    id INT(11),
    name VARCHAR(255)
);

INSERT INTO st (id, name) VALUES (1, 'John');
INSERT INTO st (id, name) VALUES (2, 'Jane');
SELECT * FROM st;
UPDATE st SET name = 'Johnny' WHERE id = 1;
SELECT * FROM st;
DELETE FROM st WHERE id = 2;
SELECT * FROM st; 

CREATE TEMPORARY TABLE st1 (
    id INT(11),
    name VARCHAR(255)
);

CREATE TEMPORARY TABLE st2 (
    id INT(11),
    city VARCHAR(255)
);

INSERT INTO st1 (id, name) VALUES (1, 'John');
INSERT INTO st1 (id, name) VALUES (2, 'Jane');
INSERT INTO st2 (id, city) VALUES (1, 'London');
INSERT INTO st2 (id, city) VALUES (2, 'New York');
SELECT st1.name, st2.city 
FROM st1 INNER JOIN st2 ON st1.id=st2.id;

create table t2 (id int(11) auto_increment primary key, score int(11), name varchar(32)) ;
insert into t2 (score, name) values (98, 'Bob');
select * from t2 where score > 90;

create temporary table t3 like t2 ;
insert into t3 (score, name) values (88, 'Charlie');
select * from t3;

# data type
create table t5 (
    id int(11) unsigned auto_increment primary key,
    col1 varchar(32),
    col2 datetime,
    col3 time
) ;

insert into t5 (col1, col2, col3) values ('aaa', '2022-01-17 15:22:00', '12:00:00');
insert into t5 (col1, col2, col3) values ('bbb', '2022-01-18 10:10:10', '20:00:00');
insert into t5 (col1, col2, col3) values ('ccc', '2022-01-19 15:45:32', '18:45:00');
select * from t5 where col1 = 'aaa';

# create temporary table like
create temporary table temp_t6 like t5 ;
insert into temp_t6 (col1, col2, col3) select col1, col2, col3 from t5 where col1 between 'aaa' and 'bbb';
select * from temp_t6 order by col2 desc;
drop temporary table if exists temp_t7;

# unsigned type
create temporary table temp_t7(
    id int(11)unsigned auto_increment primary key,
    col1 varchar(32)
);
insert into temp_t7(col1)values('apple'),('banana'),('orange'),('watermelon'),('grapefruit');
select * from temp_t7 order by id desc;

create temporary table temp_t8(id int(11) unsigned auto_increment primary key, col1 varchar(32), col2 datetime, status char(1)) ;
insert into temp_t8(col1,col2,status)values('aaa','2022-02-19 09:21:40','Y'),('bbb','2022-02-20 14:15:23','N'),('ccc','2022-02-21 22:30:10','Y'),('ddd','2022-02-22 08:50:20','N'),('eee','2022-02-23 10:35:59','Y');
select * from temp_t8;

create temporary table temp_t9(id int(11) unsigned auto_increment primary key, col3 varchar(32), col4 int(11),price decimal(8,2));
insert into temp_t9(col3, col4, price) values('code11', 10, 523.2),('code22', 20 , 2480),('code33', 30, 89.99),('code44', 40, 5200.55);
select * from temp_t9;

CREATE TEMPORARY TABLE temp_t10 SELECT * FROM temp_t9 LIMIT 3;
select * from temp_t10;

# decimal type
drop table if exists t1,t2,t3;
CREATE TEMPORARY TABLE t1 (c1 DECIMAL(10,2));
INSERT INTO t1 VALUES (10.00), (-24.53), (5936.28);

CREATE TEMPORARY TABLE t2 (c1 DECIMAL(38,10));
INSERT INTO t2 VALUES (1.23), (-2.78), (99.99);

CREATE TEMPORARY TABLE t3 (c1 DECIMAL(12,5), c2 DECIMAL(20,8));
INSERT INTO t3 VALUES (123.45678, 450.04510000), (-234.54628, 2434.87654865);

SELECT *, LENGTH(c1) FROM t1;
SELECT *, LENGTH(c1) FROM t2;
SELECT *, LENGTH(c1), LENGTH(c2) FROM t3;
DROP TEMPORARY TABLE t1, t2, t3;

# clean UP
DROP DATABASE create_tmp_test;
"""

SCRIPT_TEMPORARY_X = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS temporary_test;
--enable_warnings

CREATE DATABASE temporary_test;

USE temporary_test;

--echo #
--echo #create temporary...like...
--echo #

--disable_warnings
drop table if exists t1;
--enable_warnings

CREATE TABLE t1 (f1 INTEGER AUTO_INCREMENT, PRIMARY KEY (f1))engine=tianmu;
CREATE TEMPORARY TABLE t2 LIKE t1;
INSERT INTO t1 VALUES (1);
INSERT INTO t2 VALUES (1);

ALTER TABLE t2 COMMENT = 'ABC';
UPDATE t2, t1 SET t2.f1 = 2, t1.f1 = 9;
ALTER TABLE t2 COMMENT = 'DEF';
SELECT * FROM t1;
SELECT * FROM t2;

DROP TABLE t1, t2;
CREATE TABLE  t1 (c1 INT)engine=tianmu;
CREATE TEMPORARY TABLE `t2` (c1 INT)engine=tianmu;
--error 1050
CREATE TEMPORARY TABLE `t2` (c1 INT)engine=tianmu;
DROP TABLE t1,t2;
"""

SCRIPT_RANGE_X = """--source include/have_tianmu.inc

--echo #
--echo # Test range
--echo #

--disable_warnings
DROP DATABASE IF EXISTS range_test;
--enable_warnings
CREATE DATABASE range_test;
USE range_test;

--disable_warnings
drop table if exists t1, t2, t3;
--enable_warnings
SET sql_mode = 'NO_ENGINE_SUBSTITUTION';
CREATE TABLE t1 (
  event_date date DEFAULT '0000-00-00' NOT NULL,
  type int(11) DEFAULT '0' NOT NULL,
  event_id int(11) DEFAULT '0' NOT NULL,
  PRIMARY KEY (event_date,type,event_id)
);

INSERT INTO t1 VALUES ('1999-07-10',100100,24), ('1999-07-11',100100,25),
('1999-07-13',100600,0), ('1999-07-13',100600,4), ('1999-07-13',100600,26),
('1999-07-14',100600,10), ('1999-07-15',100600,16), ('1999-07-15',100800,45),
('1999-07-15',101000,47), ('1999-07-16',100800,46), ('1999-07-20',100600,5),
('1999-07-20',100600,27), ('1999-07-21',100600,11), ('1999-07-22',100600,17),
('1999-07-23',100100,39), ('1999-07-24',100100,39), ('1999-07-24',100500,40),
('1999-07-25',100100,39), ('1999-07-27',100600,1), ('1999-07-27',100600,6),
('1999-07-27',100600,28), ('1999-07-28',100600,12), ('1999-07-29',100500,41),
('1999-07-29',100600,18), ('1999-07-30',100500,41), ('1999-07-31',100500,41),
('1999-08-01',100700,34), ('1999-08-03',100600,7), ('1999-08-03',100600,29),
('1999-08-04',100600,13), ('1999-08-05',100500,42), ('1999-08-05',100600,19),
('1999-08-06',100500,42), ('1999-08-07',100500,42), ('1999-08-08',100500,42),
('1999-08-10',100600,2), ('1999-08-10',100600,9), ('1999-08-10',100600,30),
('1999-08-11',100600,14), ('1999-08-12',100600,20), ('1999-08-17',100500,8),
('1999-08-17',100600,31), ('1999-08-18',100600,15), ('1999-08-19',100600,22),
('1999-08-24',100600,3), ('1999-08-24',100600,32), ('1999-08-27',100500,43),
('1999-08-31',100600,33), ('1999-09-17',100100,37), ('1999-09-18',100100,37),
('1999-09-19',100100,37), ('2000-12-18',100700,38);

select event_date,type,event_id from t1 WHERE event_date >= "1999-07-01" AND event_date < "1999-07-15" AND (type=100600 OR type=100100) ORDER BY event_date;
explain select event_date,type,event_id from t1 WHERE type = 100601 and event_date >= "1999-07-01" AND event_date < "1999-07-15" AND (type=100600 OR type=100100) ORDER BY event_date;
select event_date,type,event_id from t1 WHERE event_date >= "1999-07-01" AND event_date <= "1999-07-15" AND (type=100600 OR type=100100) or event_date >= "1999-07-01" AND event_date <= "1999-07-15" AND type=100099;
drop table t1;

CREATE TABLE t1 (
  PAPER_ID smallint(6) DEFAULT '0' NOT NULL,
  YEAR smallint(6) DEFAULT '0' NOT NULL,
  ISSUE smallint(6) DEFAULT '0' NOT NULL,
  CLOSED tinyint(4) DEFAULT '0' NOT NULL,
  ISS_DATE date DEFAULT '0000-00-00' NOT NULL,
  PRIMARY KEY (PAPER_ID,YEAR,ISSUE)
);
INSERT INTO t1 VALUES (3,1999,34,0,'1999-07-12'), (1,1999,111,0,'1999-03-23'),
                      (1,1999,222,0,'1999-03-23'), (3,1999,33,0,'1999-07-12'),
                      (3,1999,32,0,'1999-07-12'), (3,1999,31,0,'1999-07-12'),
                      (3,1999,30,0,'1999-07-12'), (3,1999,29,0,'1999-07-12'),
                      (3,1999,28,0,'1999-07-12'), (1,1999,40,1,'1999-05-01'),
                      (1,1999,41,1,'1999-05-01'), (1,1999,42,1,'1999-05-01'),
                      (1,1999,46,1,'1999-05-01'), (1,1999,47,1,'1999-05-01'),
                      (1,1999,48,1,'1999-05-01'), (1,1999,49,1,'1999-05-01'),
                      (1,1999,50,0,'1999-05-01'), (1,1999,51,0,'1999-05-01'),
                      (1,1999,200,0,'1999-06-28'), (1,1999,52,0,'1999-06-28'),
                      (1,1999,53,0,'1999-06-28'), (1,1999,54,0,'1999-06-28'),
                      (1,1999,55,0,'1999-06-28'), (1,1999,56,0,'1999-07-01'),
                      (1,1999,57,0,'1999-07-01'), (1,1999,58,0,'1999-07-01'),
                      (1,1999,59,0,'1999-07-01'), (1,1999,60,0,'1999-07-01'),
                      (3,1999,35,0,'1999-07-12');
select YEAR,ISSUE from t1 where PAPER_ID=3 and (YEAR>1999 or (YEAR=1999 and ISSUE>28))  order by YEAR,ISSUE;
drop table t1;

CREATE TABLE t1 (
  id int(11) NOT NULL auto_increment,
  parent_id int(11) DEFAULT '0' NOT NULL,
  level tinyint(4) DEFAULT '0' NOT NULL,
  PRIMARY KEY (id)
);
INSERT INTO t1 VALUES (1,0,0), (3,1,1), (4,1,1), (8,2,2), (9,2,2), (17,3,2),
(22,4,2), (24,4,2), (28,5,2), (29,5,2), (30,5,2), (31,6,2), (32,6,2), (33,6,2),
(203,7,2), (202,7,2), (20,3,2), (157,0,0), (193,5,2), (40,7,2), (2,1,1),
(15,2,2), (6,1,1), (34,6,2), (35,6,2), (16,3,2), (7,1,1), (36,7,2), (18,3,2),
(26,5,2), (27,5,2), (183,4,2), (38,7,2), (25,5,2), (37,7,2), (21,4,2),
(19,3,2), (5,1,1), (179,5,2);
# The following select returned 0 rows in 3.23.8
SELECT * FROM t1 WHERE level = 1 AND parent_id = 1 order by id;
drop table t1;

#
# Testing of bug in range optimizer with many key parts and > and <
#

create table t1(
		Satellite		varchar(25)	not null,
		SensorMode		varchar(25)	not null,
		FullImageCornersUpperLeftLongitude	double	not null,
		FullImageCornersUpperRightLongitude	double	not null,
		FullImageCornersUpperRightLatitude	double	not null,
		FullImageCornersLowerRightLatitude	double	not null);

insert into t1 values("OV-3","PAN1",91,-92,40,50);
insert into t1 values("OV-4","PAN1",91,-92,40,50);

select * from t1 where t1.Satellite = "OV-3" and t1.SensorMode = "PAN1" and t1.FullImageCornersUpperLeftLongitude > -90.000000 and t1.FullImageCornersUpperRightLongitude < -82.000000;
drop table t1;

create table t1 ( aString char(100) not null default "");
insert t1 (aString) values ( "believe in myself" ), ( "believe" ), ("baaa" ), ( "believe in love");
select * from t1 where aString < "believe in myself" order by aString;
select * from t1 where aString > "believe in love" order by aString;
select * from t1 where aString < "believe in myself" order by aString;
select * from t1 where aString > "believe in love" order by aString;
drop table t1;

#
# test for a bug with in() and unique key
#

create  table t1 (id int(10) primary key);
insert into t1 values (1),(2),(3),(4),(5),(6),(7),(8),(9);

select id from t1 where id in (2,5,9) ;
select id from t1 where id=2 or id=5 or id=9 ;
drop table t1;
create table t1 ( id1 int not null, id2 int not null, idnull int null, c char(20), primary key (id1,id2));
insert into t1 values (0,1,NULL,"aaa"), (1,1,NULL,"aaa"), (2,1,NULL,"aaa"),
                      (3,1,NULL,"aaa"), (4,1,NULL,"aaa"), (5,1,NULL,"aaa"),
                      (6,1,NULL,"aaa"), (7,1,NULL,"aaa"), (8,1,NULL,"aaa"),
                      (9,1,NULL,"aaa"), (10,1,NULL,"aaa"), (11,1,NULL,"aaa"),
                      (12,1,NULL,"aaa"), (13,1,NULL,"aaa"), (14,1,NULL,"aaa"),
                      (15,1,NULL,"aaa"), (16,1,NULL,"aaa"), (17,1,NULL,"aaa"),
                      (18,1,NULL,"aaa"), (19,1,NULL,"aaa"), (20,1,NULL,"aaa");
select a.id1, b.idnull from t1 as a, t1 as b where a.id2=1 and a.id1=1 and b.id1=a.idnull order by b.id2 desc limit 1;
drop table t1;


#
# Problem with optimizing !=
#

create table t1 (
  id int not null auto_increment,
  name char(1) not null,
  uid int not null,
  primary key (id));
  
create table t2 (
  id int not null auto_increment,
  name char(1) not null,
  uid int not null,
  primary key (id));
  
insert into t1(id, uid, name) values(1, 0, ' ');
insert into t1(uid, name) values(0, ' ');

insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
insert into t2(uid, name) select uid, name from t1;
insert into t2(uid, name) select uid, name from t1;
insert into t2(uid, name) select uid, name from t1;
insert into t2(uid, name) select uid, name from t1;
insert into t1(uid, name) select uid, name from t2;
#bug1563select * from t1 order by id;
#bug1563select * from t2 order by id;

delete from t2;
insert into t2(uid, name) values 
  (1, CHAR(64+1)),
  (2, CHAR(64+2)),
  (3, CHAR(64+3)),
  (4, CHAR(64+4)),
  (5, CHAR(64+5)),
  (6, CHAR(64+6)),
  (7, CHAR(64+7)),
  (8, CHAR(64+8)),
  (9, CHAR(64+9)),
  (10, CHAR(64+10)),
  (11, CHAR(64+11)),
  (12, CHAR(64+12)),
  (13, CHAR(64+13)),
  (14, CHAR(64+14)),
  (15, CHAR(64+15)),
  (16, CHAR(64+16)),
  (17, CHAR(64+17)),
  (18, CHAR(64+18)),
  (19, CHAR(64+19)),
  (20, CHAR(64+20)),
  (21, CHAR(64+21)),
  (22, CHAR(64+22)),
  (23, CHAR(64+23)),
  (24, CHAR(64+24)),
  (25, CHAR(64+25)),
  (26, CHAR(64+26));

insert into t1(uid, name) select uid, name from t2 order by uid;
delete from t1;
delete from t2;
insert into t2(id, uid, name) select id, uid, name from t1;

select count(*) from t1;  
select count(*) from t2;

select * from t1, t2  where t1.uid=t2.uid AND t1.uid > 0;
select * from t1, t2  where t1.uid=t2.uid AND t2.uid > 0;
select * from t1, t2  where t1.uid=t2.uid AND t1.uid != 0;
select * from t1, t2  where t1.uid=t2.uid AND t2.uid != 0;

select * from t1, t2  where t1.uid=t2.uid AND t1.uid > 0 order by t1.id;
select * from t1, t2  where t1.uid=t2.uid AND t1.uid != 0 order by t1.id;

drop table t1,t2;
 
create table t1 (x bigint unsigned not null);
insert into t1(x) values (0xfffffffffffff0);
insert into t1(x) values (0xfffffffffffff1);
select * from t1;
select count(*) from t1 where x>0;
select count(*) from t1 where x=0;
select count(*) from t1 where x<0;
select count(*) from t1 where x < -16;
select count(*) from t1 where x = -16;
select count(*) from t1 where x > -16;
select count(*) from t1 where x = 18446744073709551601;


create table t2 (x bigint not null);
insert into t2(x) values (-16);
insert into t2(x) values (-15);
select * from t2;
select count(*) from t2 where x>0;
select count(*) from t2 where x=0;
select count(*) from t2 where x<0;
select count(*) from t2 where x < -16;
select count(*) from t2 where x = -16;
select count(*) from t2 where x > -16;
#bug1564select count(*) from t2 where x = 18446744073709551601;
drop table t1,t2;

--disable_warnings
create table t1 (x bigint unsigned not null primary key) engine=innodb;
--enable_warnings
insert into t1(x) values (0xfffffffffffff0);
insert into t1(x) values (0xfffffffffffff1);
select * from t1;
select count(*) from t1 where x>0;
select count(*) from t1 where x=0;
select count(*) from t1 where x<0;
select count(*) from t1 where x < -16;
select count(*) from t1 where x = -16;
select count(*) from t1 where x > -16;
select count(*) from t1 where x = 18446744073709551601;

drop table t1;

#
# Bug #11185 incorrect comparison of unsigned int to signed constant
#
create table t1 (a bigint unsigned);
insert into t1 select 184467440737095515;
insert into t1 select 184467440737095514;

select * from t1 where a <> -1;
select * from t1 where a > -1 or a < -1;
select * from t1 where a > -1;
select * from t1 where a < -1;

drop table t1;

#
# Binary Comparison regression in MySQL 4.1
# Binary searches didnt use a case insensitive index.
#

set names latin1;
create table t1 (a char(10), b text) character set latin1;
INSERT INTO t1 (a) VALUES
('111'),('222'),('222'),('222'),('222'),('444'),('aaa'),('AAA'),('bbb');
drop table t1;

--disable_warnings
CREATE TABLE t1 (
  `CLIENT` char(3) character set latin1 collate latin1_bin NOT NULL default '000',
  `ARG1` char(3) character set latin1 collate latin1_bin NOT NULL default '',
  `ARG2` char(3) character set latin1 collate latin1_bin NOT NULL default '',
  `FUNCTION` varchar(10) character set latin1 collate latin1_bin NOT NULL default '',
  `FUNCTINT` int(11) NOT NULL default '0'
) DEFAULT CHARSET=latin1;
--enable_warnings

INSERT INTO t1 VALUES ('000',' 0',' 0','Text 001',0), ('000',' 0',' 1','Text 002',0),
  ('000',' 1',' 2','Text 003',0), ('000',' 2',' 3','Text 004',0),
  ('001',' 3',' 0','Text 017',0);

SELECT count(*) FROM t1 WHERE CLIENT='000' AND (ARG1 != ' 1' OR ARG1 != ' 2');

SELECT count(*) FROM t1 WHERE CLIENT='000' AND (ARG1 != ' 2' OR ARG1 != ' 1');
drop table t1;

# Wrong range optimizer results, "Use_count: Wrong count ..."
#            warnings in server stderr.
create table t1 (a int);
insert into t1 values (0),(1),(2),(3),(4),(5),(6),(7),(8),(9);

CREATE TABLE t2 (
  pk1 int(11) NOT NULL,
  pk2 int(11) NOT NULL,
  pk3 int(11) NOT NULL,
  pk4 int(11) NOT NULL,
  filler char(82),
  PRIMARY KEY (pk1,pk2,pk3,pk4)
) DEFAULT CHARSET=latin1;

insert into t2 select 1, A.a+10*B.a, 432, 44, 'fillerZ' from t1 A, t1 B;
INSERT INTO t2 VALUES (2621, 2635, 0, 0,'filler'), (2621, 2635, 1, 0,'filler'),
  (2621, 2635, 10, 0,'filler'), (2621, 2635, 11, 0,'filler'),
  (2621, 2635, 14, 0,'filler'), (2621, 2635, 1000015, 0,'filler');

SELECT * FROM t2
WHERE ((((pk4 =0) AND (pk1 =2621) AND (pk2 =2635)))
OR ((pk4 =1) AND (((pk1 IN ( 7, 2, 1 ))) OR (pk1 =522)) AND ((pk2 IN ( 0, 2635))))
) AND (pk3 >=1000000);
drop table t1, t2;

#
# Partial index and long sjis search with '>' fails sometimes
#

create table t1(a char(2));
insert into t1 values ('x'), ('xx');
select a from t1 where a > 'x';
drop table t1;

# high mem usage (crash) in range optimizer (depends on order of fields in where)
create table t1 (
  c1  char(10), c2  char(10), c3  char(10), c4  char(10),
  c5  char(10), c6  char(10), c7  char(10), c8  char(10),
  c9  char(10), c10 char(10), c11 char(10), c12 char(10),
  c13 char(10), c14 char(10), c15 char(10), c16 char(10)
);
insert into t1 (c1) values ('1'),('1'),('1'),('1');

# This must run without crash and fast:
select * from t1 where
     c1 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4",
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c2 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c3 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c4 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5", 
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c5 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4",
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c6 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4",
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c7 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c8 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c9 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC")
 and c10 in ("abcdefgh", "123456789", "qwertyuio", "asddfgh", 
            "abcdefg1", "123456781", "qwertyui1", "asddfg1", 
            "abcdefg2", "123456782", "qwertyui2", "asddfg2", 
            "abcdefg3", "123456783", "qwertyui3", "asddfg3", 
            "abcdefg4", "123456784", "qwertyui4", "asddfg4", 
            "abcdefg5", "123456785", "qwertyui5", "asddfg5",
            "abcdefg6", "123456786", "qwertyui6", "asddfg6",
            "abcdefg7", "123456787", "qwertyui7", "asddfg7",
            "abcdefg8", "123456788", "qwertyui8", "asddfg8",
            "abcdefg9", "123456789", "qwertyui9", "asddfg9",
            "abcdefgA", "12345678A", "qwertyuiA", "asddfgA",
            "abcdefgB", "12345678B", "qwertyuiB", "asddfgB",
            "abcdefgC", "12345678C", "qwertyuiC", "asddfgC");
drop table t1;

#
# Test for optimization request: to use keys for
# NOT IN (c1,...,cn) and NOT BETWEEN c1 AND c2
#

CREATE TABLE t1 (
  id int(11) NOT NULL auto_increment,
  status varchar(20),
  PRIMARY KEY  (id)
);

INSERT INTO t1 VALUES
(1,'B'), (2,'B'), (3,'B'), (4,'B'), (5,'B'), (6,'B'),
(7,'B'), (8,'B'), (9,'B'), (10,'B'), (11,'B'), (12,'B'),
(13,'B'), (14,'B'), (15,'B'), (16,'B'), (17,'B'), (18,'B'),
(19,'B'), (20,'B'), (21,'B'), (22,'B'), (23,'B'), (24,'B'), 
(25,'A'), (26,'A'), (27,'A'), (28,'A'), (29,'A'), (30,'A'),
(31,'A'), (32,'A'), (33,'A'), (34,'A'), (35,'A'), (36,'A'),
(37,'A'), (38,'A'), (39,'A'), (40,'A'), (41,'A'), (42,'A'),
(43,'A'), (44,'A'), (45,'A'), (46,'A'), (47,'A'), (48,'A'),
(49,'A'), (50,'A'), (51,'A'), (52,'A'), (53,'C'), (54,'C'),
(55,'C'), (56,'C'), (57,'C'), (58,'C'), (59,'C'), (60,'C');

SELECT * FROM t1 WHERE status <> 'A' AND status <> 'B';
SELECT * FROM t1 WHERE status NOT IN ('A','B');
SELECT * FROM t1 WHERE status NOT BETWEEN 'A' AND 'B';
SELECT * FROM t1 WHERE status < 'A' OR status > 'B';

DROP TABLE t1;

#
# Test for range to be used over a view
#

CREATE TABLE  t1 (a int, b int, primary key(a,b));

INSERT INTO  t1 VALUES
  (1,1),(1,2),(1,3),(2,1),(2,2),(2,3),(3,1),(3,2),(3,3),(4,1),(4,2),(4,3);

CREATE VIEW v1 as SELECT a,b FROM t1 WHERE b=3;

SELECT a,b FROM t1 WHERE a < 2 and b=3;
SELECT a,b FROM v1 WHERE a < 2 and b=3; 

DROP VIEW v1;
DROP TABLE t1;

#
# DELETE statement with a NOT (LIKE/<=>) where condition
#             for an indexed attribute              
#             

CREATE TABLE t1 (name varchar(15) NOT NULL);
INSERT INTO t1 VALUES ('Betty'), ('Anna');

SELECT * FROM t1;
DELETE FROM t1 WHERE name NOT LIKE 'A%a';
SELECT * FROM t1;

DROP TABLE t1;

CREATE TABLE t1 (a int);
INSERT INTO t1 VALUES (NULL), (1), (2), (3);

SELECT * FROM t1;
DELETE FROM t1 WHERE NOT(a <=> 2);
SELECT * FROM t1;

DROP TABLE t1;

#
# BUG#13317: range optimization doesnt work for IN over VIEW.
#
create table t1 (a int, b int, primary key(a,b));
create view v1 as select a, b from t1;

INSERT INTO `t1` VALUES
(0,0),(1,0),(2,0),(3,0),(4,0),(5,1),(6,1),(7,1),(8,1),(9,1),(10,2),(11,2),(12,2)
,(13,2),(14,2),(15,3),(16,3),(17,3),(18,3),(19,3);
 
drop view v1;
drop table t1;

# BUG#13455: 
create table t3 (a int);
insert into t3 values (0),(1),(2),(3),(4),(5),(6),(7),(8),(9);

create table t1 (a varchar(10), filler char(200)) charset=binary;
insert into t1 values ('a','');
insert into t1 values ('a ','');
insert into t1 values ('a  ', '');
insert into t1 select concat('a', 1000 + A.a + 10 * (B.a + 10 * C.a)), ''
  from t3 A, t3 B, t3 C;

create table t2 (a varchar(10), filler char(200));
insert into t2 select * from t1;

update t1 set a='b' where a<>'a';
select a, hex(filler) from t1 where a not between 'b' and 'b'; 
drop table t1,t2,t3;

create table t1 (a int);
insert into t1 values (0),(1),(2),(3),(4),(5),(6),(7),(8),(9);
create table t2 (a int);
insert into t2 select 2*(A.a + 10*(B.a + 10*C.a)) from t1 A, t1 B, t1 C;
"""

SCRIPT_SSB_SMALL = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS ssb_small_test;
--enable_warnings

CREATE DATABASE ssb_small_test;
USE ssb_small_test;


create table part (
        p_partkey int,
        p_name varchar (55),
        p_mfgr char (25),
        p_brand char (10),
        p_type varchar (25),
        p_size int,
        p_container char (10),
        p_retailprice decimal(12,2),
        p_comment varchar (23)
);

create table lineitem (
        l_orderkey int,
        l_partkey int,
        l_suppkey int,
        l_linenumber bigint,
        l_quantity decimal(12,2),
        l_extendedprice decimal(12,2),
        l_discount decimal(12,2),
        l_tax decimal(12,2),
        l_returnflag char (1),
        l_linestatus char (1),
        l_shipdate date,
        l_commitdate date,
        l_receiptdate date,
        l_shipinstruct char (25),
        l_shipmode char (10),
        l_comment varchar (44)
);

INSERT INTO part VALUES
(1, 'goldenrod lavender spring chocolate lace', 'Manufacturer#1', 'Brand#13', 'PROMO BURNISHED COPPER', 7, 'JUMBO PKG', 901.00, 'ly. slyly ironi'),
(2, 'blush thistle blue yellow saddle', 'Manufacturer#1', 'Brand#13', 'LARGE BRUSHED BRASS', 1, 'LG CASE', 902.00, 'lar accounts amo'),
(3, 'spring green yellow purple cornsilk', 'Manufacturer#4', 'Brand#42', 'STANDARD POLISHED BRASS', 21, 'WRAP CASE', 903.00, 'egular deposits hag'),
(4, 'cornflower chocolate smoke green pink', 'Manufacturer#3', 'Brand#34', 'SMALL PLATED BRASS', 14, 'MED DRUM', 904.00, 'p furiously r'),
(5, 'forest brown coral puff cream', 'Manufacturer#3', 'Brand#32', 'STANDARD POLISHED TIN', 15, 'SM PKG', 905.00, 'wake carefully');

INSERT INTO lineitem VALUES
(1, 156, 4, 1, 17, 17954.55, 0.04, 0.02, 'N', 'O', '1996-03-13', '1996-02-12', '1996-03-22', 'DELIVER IN PERSON', 'TRUCK', 'egular courts above the'),
(1, 68, 9, 2, 36, 34850.16, 0.09, 0.06, 'N', 'O', '1996-04-12', '1996-02-28', '1996-04-20', 'TAKE BACK RETURN', 'MAIL', 'ly final dependencies: slyly bold'),
(1, 64, 5, 3, 8, 7712.48, 0.10, 0.02, 'N', 'O', '1996-01-29', '1996-03-05', '1996-01-31', 'TAKE BACK RETURN', 'REG AIR', 'riously. regular, express dep'),
(1, 3, 6, 4, 28, 25284.00, 0.09, 0.06, 'N', 'O', '1996-04-21', '1996-03-30', '1996-05-16', 'NONE', 'AIR', 'lites. fluffily even de'),
(1, 25, 8, 5, 24, 22200.48, 0.10, 0.04, 'N', 'O', '1996-03-30', '1996-03-14', '1996-04-01', 'NONE', 'FOB',  'pending foxes. slyly re'),
(1, 16, 3, 6, 32, 29312.32, 0.07, 0.02, 'N', 'O', '1996-01-30', '1996-02-07', '1996-02-03', 'DELIVER IN PERSON', 'MAIL', 'arefully slyly ex'),
(2, 107, 2, 1, 38, 38269.80, 0.00, 0.05, 'N', 'O', '1997-01-28', '1997-01-14', '1997-02-02', 'TAKE BACK RETURN', 'RAIL', 'ven requests. deposits breach a');


select
	sum(l_extendedprice* (1 - l_discount)) as revenue
from
	lineitem,
	part
where
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#23'
		and p_container in ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
		and l_quantity >= 2 and l_quantity <= 2 + 10
		and p_size between 1 and 5
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	)
	or
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#24'
		and p_container in ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
		and l_quantity >= 20 and l_quantity <= 20 + 10
		and p_size between 1 and 10
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	)
	or
	(
		p_partkey = l_partkey
		and p_brand = 'Brand#44'
		and p_container in ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
		and l_quantity >= 26 and l_quantity <= 26 + 10
		and p_size between 1 and 15
		and l_shipmode in ('AIR', 'AIR REG')
		and l_shipinstruct = 'DELIVER IN PERSON'
	);

#clean up
DROP DATABASE ssb_small_test;
"""

SCRIPT_INSERT_ALL_DATA_TYPES = """--source include/have_tianmu.inc

--echo #
--echo # Test INSERT into all supported datatypes
--echo #

--disable_warnings
DROP DATABASE IF EXISTS insert_all_data_types_test;
--enable_warnings

--disable_warnings
set sql_mode= 'STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
--enable_warnings

CREATE DATABASE insert_all_data_types_test;
USE insert_all_data_types_test;

#Test Numeric datatypes
CREATE TABLE t1_sn
(
 t1_BOOLEAN BOOLEAN,
 t1_TINYINT  TINYINT,
 t1_SMALLINT SMALLINT,
 t1_MEDIUMINT MEDIUMINT,
 t1_INT INT,
 t1_BIGINT BIGINT
 );
INSERT INTO t1_sn VALUES(1, -27, -708, -89486, -7483646, -72036854775806);
SELECT * FROM t1_sn;

CREATE TABLE t1
(
 t1_TINYINT_SIGNED TINYINT SIGNED,
 t1_SMALLINT_SIGNED SMALLINT SIGNED,
 t1_MEDIUMINT_SIGNED MEDIUMINT SIGNED,
 t1_INT_SIGNED INT SIGNED,
 t1_BIGINT_SIGNED BIGINT SIGNED
 );
INSERT INTO t1 VALUES(27, 708, 89486, 7483646, 72036854775806);
SELECT * FROM t1;

#Test Decimal datatypes
CREATE TABLE t2_sn
(
 t2_DECIMAL_18_2 DECIMAL(18,2),
 t2_DECIMAL_17_2 DECIMAL(17,2),
 t2_DOUBLE DOUBLE,
 t2_FLOAT FLOAT
 );
INSERT INTO t2_sn VALUES(-99999999999.99, -999999999.99, -1.797693231E+108, -3.402866E+18);
INSERT INTO t2_sn(t2_DECIMAL_17_2) VALUES(999999999.99);
--error 1264
INSERT INTO t2_sn(t2_DECIMAL_17_2) VALUES(9999999999999999.99);
SELECT * FROM t2_sn;

CREATE TABLE t2
(
 t2_DECIMAL_18_2_SIGNED DECIMAL(18,2) SIGNED,
 t2_DECIMAL_17_2_SIGNED DECIMAL(17,2) SIGNED,
 t2_DOUBLE_SIGNED DOUBLE SIGNED,
 t2_FLOAT_SIGNED FLOAT SIGNED
 );
INSERT INTO t2 VALUES(99999999999.99, 999999999.99, 1.797693231E+108, 3.402866E+18);
INSERT INTO t2(t2_DECIMAL_17_2_SIGNED) VALUES(999999998.99);
--error 1264
INSERT INTO t2(t2_DECIMAL_17_2_SIGNED) VALUES(999999998777778888.99);
SELECT * FROM t2;

#Test String datatypes
CREATE TABLE t3
(
 t3_BLOB BLOB,
 t3_TINYBLOB TINYBLOB,
 t3_MEDIUMBLOB MEDIUMBLOB,
 t3_LONGBLOB LONGBLOB,
 t3_CHAR_100 CHAR(100),
 t3_VARCHAR_10 VARCHAR(10),
 t3_VARCHAR_500 VARCHAR(500),
 t3_TEXT TEXT,
 t3_TINYTEXT TINYTEXT,
 t3_MEDIUMTEXT MEDIUMTEXT,
 t3_LONGTEXT LONGTEXT
 );
INSERT INTO t3 VALUES(repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10), repeat('a',10));
SELECT * FROM t3;

#Test Date and Time datatypes
CREATE TABLE t4
(
 t4_DATE DATE,
 t4_DATETIME DATETIME,
 t4_TIME TIME,
 t4_TIME_4 TIME(4),
 t4_TIMESTAMP TIMESTAMP
 );
INSERT INTO t4 VALUES('1997-01-01','2037-01-01 11:22:33','13:09:6','11:55:44','2020-01-01 11:22:33');
SELECT * FROM t4;

#Test with mixed datatypes
CREATE TABLE t5
(
 t5_BIGINT BIGINT,
 t5_DOUBLE DOUBLE,
 t5_FLOAT FLOAT,
 t5_BLOB BLOB,
 t5_TEXT TEXT,
 t5_CHAR_1 CHAR(1),
 t5_DATETIME DATETIME
 );
INSERT INTO t5 VALUES(203685477580676, -3.797693231E+108, -7.402866E+18, repeat('b',100), repeat('b',100), 'b', '2387-11-08 11:22:30.123');
SELECT * FROM t5;

DROP DATABASE insert_all_data_types_test;
"""

SCRIPT_TIME_FUNCTION = """--echo #
--echo # TIME() function
--echo # Author: ysw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS time_function;
--enable_warnings

CREATE DATABASE time_function;
USE time_function;

CREATE TABLE t1
(
 t1_DATE DATE,
 t1_TIME TIME,
 t1_DATETIME DATETIME
 )ENGINE=tianmu;
INSERT INTO t1 VALUES('1560-08-27', '22:12:02', '1997-12-12 22:12:02');
INSERT INTO t1 VALUES('1982-02-19', '23:59:59', '2001-1-1 23:59:59.65');
INSERT INTO t1 VALUES('3291-05-30', '01:37:50.871', '09-12-11 01:08:59');

SELECT TIME('112233') FROM t1 LIMIT 1;
SELECT TIME('11:22:33.4455') FROM t1 LIMIT 1;
SELECT TIME('1811/2/2 3:34:45.5') FROM t1 LIMIT 1;
SELECT TIME('1811/2/2') FROM t1 LIMIT 1;

SELECT t1_DATE, TIME(t1_DATE) FROM t1 ORDER BY 1;
SELECT t1_TIME, TIME(t1_TIME) FROM t1 ORDER BY 1;
SELECT t1_DATETIME, TIME(t1_DATETIME) FROM t1 ORDER BY 1;

# Clean UP
DROP DATABASE time_function;
"""

SCRIPT_FUNC_SEC_TO_TIME = """--source include/have_tianmu.inc
--echo #
--echo # SEC_TO_TIME(double_or_float)
--echo #

--disable_warnings
DROP DATABASE IF EXISTS func_sec_to_time_test;
--enable_warnings

CREATE DATABASE func_sec_to_time_test;
USE func_sec_to_time_test;

CREATE TABLE t1 (a DOUBLE);
INSERT INTO t1 VALUES (0.000025e-35);
INSERT INTO t1 VALUES (-1),(1);
INSERT INTO t1 VALUES (-900),(900);
INSERT INTO t1 VALUES (-1000000),(1000000);
SELECT a, SEC_TO_TIME(a) FROM t1 ORDER BY 1;
DROP TABLE t1;

# Clean UP
DROP DATABASE func_sec_to_time_test;
"""

SCRIPT_ADDTIME_FUNCTION = """--echo #
--echo # Test ADDTIME function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs179_db;
--enable_warnings

CREATE DATABASE mcs179_db;
USE mcs179_db;

CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE)engine=tianmu;
INSERT INTO t1 VALUES ('', NULL, '1990-01-01', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SHOW CREATE TABLE t1;

SELECT ADDTIME('2020-02-02 22:22:22', '2 1:1:1');
SELECT ADDTIME('2020-02-02 22:22:22', '2:2:2.1111');
SELECT ADDTIME('2020-02-02 22:22:22', '-2:2:2');
SELECT ADDTIME('22:22:22', '03:11:22');

SELECT c, ADDTIME(c, '1 3:3:3') FROM t1;
SELECT c, ADDTIME(c, '-2 1:1:1') FROM t1;
SELECT c, ADDTIME(c, '100:11:12') FROM t1;
SELECT c, ADDTIME(c, '-100:11:12') FROM t1;
SELECT c, ADDTIME(c, '100:11') FROM t1;
SELECT c, ADDTIME(c, '100') FROM t1;

# Clean UP
DROP DATABASE mcs179_db;
"""

SCRIPT_CONVERT_CONV_FUNC = """--source include/have_tianmu.inc

--echo #
--echo # Test CONVERT, CONV functions
--echo #

--disable_warnings
DROP DATABASE IF EXISTS convert_conv_func_test;
--enable_warnings

CREATE DATABASE convert_conv_func_test;
USE convert_conv_func_test;

CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);
INSERT INTO t1 VALUES ('', NULL, '1111-11-11', NULL),
('a', 12, '1212-12-12', 1.19691E+100),
('b', 13, '1313-3-13 13:13:13', 2.1961E+18),
('c', 14, '1414-4-14', 0.16191),
('d', 15, '2015-5-15 15:15:15', 1.971917);

select * from t1;
SHOW CREATE TABLE t1;

SELECT CONVERT(123, CHAR);
SELECT CONVERT("14:06:10", TIME);
SELECT CONVERT("stonedbtianmu" USING latin1);
SELECT CONVERT('abcd', BINARY);
SELECT CONVERT(-123, UNSIGNED);

SELECT CONV(123, 10, 2);
SELECT CONV(123, 8, 2);
SELECT CONV(2011, 10, 16);
SELECT CONV(101011, 2, 10);

SELECT CONVERT(c, DATE) FROM t1;
#bug SELECT CONVERT(c, TIME) FROM t1;
SELECT CONVERT(b, CHAR) FROM t1;
SELECT CONVERT(b, SIGNED) FROM t1;

SELECT b, CONV(b, 10, 2) FROM t1;
SELECT b, CONV(b, 10, 8) FROM t1;
SELECT b, CONV(b, 10, 16) FROM t1;
SELECT d, CONV(d, 10, 2) FROM t1;
SELECT d, CONV(d, 10, 16) FROM t1;

# Clean UP
DROP DATABASE convert_conv_func_test;
"""

SCRIPT_STD_TEST = """--source include/have_tianmu.inc

--echo #
--echo # std floor VAR_SAMP func test
--echo #

--disable_warnings
DROP DATABASE IF EXISTS std_test;
--enable_warnings

CREATE DATABASE std_test;
USE std_test;

create table t1 (
        col_signed tinyint,
        col_unsigned tinyint unsigned
);

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/tinyint_range.tbl' INTO TABLE t1 FIELDS TERMINATED BY '|';

ALTER TABLE t1 ADD COLUMN col_small_signed SMALLINT;
ALTER TABLE t1 ADD COLUMN col_small_unsigned SMALLINT UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_med_signed MEDIUMINT;
ALTER TABLE t1 ADD COLUMN col_med_unsigned MEDIUMINT UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_int_signed INT;
ALTER TABLE t1 ADD COLUMN col_int_unsigned INT UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_big_signed BIGINT;
ALTER TABLE t1 ADD COLUMN col_big_unsigned BIGINT UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_dec_signed DECIMAL(17,0);
ALTER TABLE t1 ADD COLUMN col_dec_unsigned DECIMAL(17,0) UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_float_signed FLOAT;
ALTER TABLE t1 ADD COLUMN col_float_unsigned FLOAT UNSIGNED;
ALTER TABLE t1 ADD COLUMN col_double_signed DOUBLE;
ALTER TABLE t1 ADD COLUMN col_double_unsigned DOUBLE UNSIGNED;

UPDATE t1 SET col_small_signed=col_signed + sign(col_signed) * 32000;
UPDATE t1 SET col_small_unsigned=col_unsigned + 65000;
UPDATE t1 SET col_med_signed=col_signed + sign(col_signed) * 8388000;
UPDATE t1 SET col_med_unsigned=col_unsigned + 16776000;
UPDATE t1 SET col_int_signed=col_signed + sign(col_signed) * 2147483000;
UPDATE t1 SET col_int_unsigned=col_unsigned + 4294000000;

UPDATE t1 SET col_big_signed=col_signed + sign(col_signed) * 9223372036854775000;
#bug1485UPDATE t1 SET col_big_unsigned=col_unsigned + 9223372036854775000;
#bug1485UPDATE t1 SET col_dec_signed=col_signed + sign(col_signed) * 80000000000000001;
#bug1485UPDATE t1 SET col_dec_unsigned=col_unsigned + 8000000000000003;
UPDATE t1 SET col_float_signed=col_signed + 0.637 + sign(col_signed) * 8388000;
UPDATE t1 SET col_float_unsigned=col_unsigned + 0.637 + 16776000;
UPDATE t1 SET col_double_signed=col_signed + 0.637 + sign(col_signed) * 2147483000;
UPDATE t1 SET col_double_unsigned=col_unsigned + 0.637 + 4294000000;


SELECT 'q1', floor(STD(col_signed)) FROM t1;
SELECT 'q2', floor(STD(col_unsigned)) FROM t1;
SELECT 'q3', floor(STD(col_small_signed)) FROM t1;
SELECT 'q4', floor(STD(col_small_unsigned)) FROM t1;
SELECT 'q5', floor(STD(col_med_signed)) FROM t1;
SELECT 'q6', floor(STD(col_med_unsigned)) FROM t1;
SELECT 'q7', floor(STD(col_int_signed)) FROM t1;
SELECT 'q8', floor(STD(col_int_unsigned)) FROM t1;
SELECT 'q9', floor(STD(col_big_signed)) FROM t1;
#bug1485SELECT 'q10', floor(STD(col_big_unsigned)) FROM t1;
#bug1485SELECT 'q11', floor(STD(col_dec_signed)) FROM t1;
SELECT 'q13', floor(STD(col_float_signed)) FROM t1;
SELECT 'q14', floor(STD(col_float_unsigned)) FROM t1;
SELECT 'q15', floor(STD(col_double_signed)) FROM t1;
SELECT 'q16', floor(STD(col_double_unsigned)) FROM t1;


SELECT 'q17', floor(STDDEV_SAMP(col_signed)) FROM t1;
SELECT 'q18', floor(STDDEV_SAMP(col_unsigned)) FROM t1;
SELECT 'q19', floor(STDDEV_SAMP(col_small_signed)) FROM t1;
SELECT 'q20', floor(STDDEV_SAMP(col_small_unsigned)) FROM t1;
SELECT 'q21', floor(STDDEV_SAMP(col_med_signed)) FROM t1;
SELECT 'q22', floor(STDDEV_SAMP(col_med_unsigned)) FROM t1;
SELECT 'q23', floor(STDDEV_SAMP(col_int_signed)) FROM t1;
SELECT 'q24', floor(STDDEV_SAMP(col_int_unsigned)) FROM t1;
SELECT 'q25', floor(STDDEV_SAMP(col_big_signed)) FROM t1;
#bug1485SELECT 'q26', floor(STDDEV_SAMP(col_big_unsigned)) FROM t1;
#bug1485SELECT 'q27', floor(STDDEV_SAMP(col_dec_signed)) FROM t1;
SELECT 'q29', floor(STDDEV_SAMP(col_float_signed)) FROM t1;
SELECT 'q30', floor(STDDEV_SAMP(col_float_unsigned)) FROM t1;
SELECT 'q31', floor(STDDEV_SAMP(col_double_signed)) FROM t1;
SELECT 'q32', floor(STDDEV_SAMP(col_double_unsigned)) FROM t1;

SELECT 'q33', floor(VAR_POP(col_signed)) FROM t1;
SELECT 'q34', floor(VAR_POP(col_unsigned)) FROM t1;
SELECT 'q35', floor(VAR_POP(col_small_signed)) FROM t1;
SELECT 'q36', floor(VAR_POP(col_small_unsigned)) FROM t1;
SELECT 'q37', floor(VAR_POP(col_med_signed)) FROM t1;
SELECT 'q38', floor(VAR_POP(col_med_unsigned)) FROM t1;
SELECT 'q39', floor(VAR_POP(col_int_signed)) FROM t1;
SELECT 'q40', floor(VAR_POP(col_int_unsigned)) FROM t1;
SELECT 'q41', floor(VAR_POP(col_big_signed)) FROM t1;
#bug1485SELECT 'q42', floor(VAR_POP(col_big_unsigned)) FROM t1;
#bug1485SELECT 'q43', floor(VAR_POP(col_dec_signed)) FROM t1;
SELECT 'q45', floor(VAR_POP(col_float_signed)) FROM t1;
SELECT 'q46', floor(VAR_POP(col_float_unsigned)) FROM t1;
SELECT 'q47', floor(VAR_POP(col_double_signed)) FROM t1;
SELECT 'q48', floor(VAR_POP(col_double_unsigned)) FROM t1;


SELECT 'q49', floor(VAR_SAMP(col_signed)) FROM t1;
SELECT 'q50', floor(VAR_SAMP(col_unsigned)) FROM t1;
SELECT 'q51', floor(VAR_SAMP(col_small_signed)) FROM t1;
SELECT 'q52', floor(VAR_SAMP(col_small_unsigned)) FROM t1;
SELECT 'q53', floor(VAR_SAMP(col_med_signed)) FROM t1;
SELECT 'q54', floor(VAR_SAMP(col_med_unsigned)) FROM t1;
SELECT 'q55', floor(VAR_SAMP(col_int_signed)) FROM t1;
SELECT 'q56', floor(VAR_SAMP(col_int_unsigned)) FROM t1;
SELECT 'q57', floor(VAR_SAMP(col_big_signed)) FROM t1;
#bug1485SELECT 'q58', floor(VAR_SAMP(col_big_unsigned)) FROM t1;
#bug1485SELECT 'q59', floor(VAR_SAMP(col_dec_signed)) FROM t1;
SELECT 'q61', floor(VAR_SAMP(col_float_signed)) FROM t1;
SELECT 'q62', floor(VAR_SAMP(col_float_unsigned)) FROM t1;
SELECT 'q63', floor(VAR_SAMP(col_double_signed)) FROM t1;
SELECT 'q64', floor(VAR_SAMP(col_double_unsigned)) FROM t1;

# Clean UP
DROP DATABASE std_test;
"""

SCRIPT_ISSUE1209 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1209_test;
--enable_warnings

CREATE DATABASE issue1209_test;

USE issue1209_test;

CREATE TABLE `t1_tianmu` (
  `id` int(11) DEFAULT NULL,
  `a` char(20) DEFAULT NULL,
  `id2` int(11) DEFAULT NULL
) ENGINE=tianmu DEFAULT CHARSET=utf8mb4;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1209-1.txt' into table t1_tianmu FIELDS TERMINATED BY ',' LINES TERMINATED BY ';';
select * from t1_tianmu;

truncate table t1_tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1209-2.txt' into table t1_tianmu FIELDS TERMINATED BY ',' enclosed by '"' LINES TERMINATED BY ';';
select * from t1_tianmu;

DROP DATABASE issue1209_test;"""

SCRIPT_ISSUE852 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue852_test;
--enable_warnings

CREATE DATABASE issue852_test;

USE issue852_test;

CREATE TABLE IF NOT EXISTS `lineorder_flat` (
  `LO_ORDERDATE` date NOT NULL COMMENT '',
  `LO_ORDERKEY` int(11) NOT NULL COMMENT '',
  `LO_LINENUMBER` tinyint(4) NOT NULL COMMENT '',
   `LO_CUSTKEY` int(11) NOT NULL COMMENT '',
  `LO_PARTKEY` int(11) NOT NULL COMMENT '',
  `LO_SUPPKEY` int(11) NOT NULL COMMENT '',
  `LO_ORDERPRIORITY` varchar(100) NOT NULL COMMENT '',
  `LO_SHIPPRIORITY` tinyint(4) NOT NULL COMMENT '',
  `LO_QUANTITY` tinyint(4) NOT NULL COMMENT '',
  `LO_EXTENDEDPRICE` int(11) NOT NULL COMMENT '',
  `LO_ORDTOTALPRICE` int(11) NOT NULL COMMENT '',
  `LO_DISCOUNT` tinyint(4) NOT NULL COMMENT '',
  `LO_REVENUE` int(11) NOT NULL COMMENT '',
  `LO_SUPPLYCOST` int(11) NOT NULL COMMENT '',
  `LO_TAX` tinyint(4) NOT NULL COMMENT '',
  `LO_COMMITDATE` date NOT NULL COMMENT '',
  `LO_SHIPMODE` varchar(100) NOT NULL COMMENT '',
  `C_NAME` varchar(100) NOT NULL COMMENT '',
  `C_ADDRESS` varchar(100) NOT NULL COMMENT '',
  `C_CITY` varchar(100) NOT NULL COMMENT '',
  `C_NATION` varchar(100) NOT NULL COMMENT '',
  `C_REGION` varchar(100) NOT NULL COMMENT '',
  `C_PHONE` varchar(100) NOT NULL COMMENT '',
  `C_MKTSEGMENT` varchar(100) NOT NULL COMMENT '',
  `S_NAME` varchar(100) NOT NULL COMMENT '',
  `S_ADDRESS` varchar(100) NOT NULL COMMENT '',
  `S_CITY` varchar(100) NOT NULL COMMENT '',
  `S_NATION` varchar(100) NOT NULL COMMENT '',
  `S_REGION` varchar(100) NOT NULL COMMENT '',
  `S_PHONE` varchar(100) NOT NULL COMMENT '',
  `P_NAME` varchar(100) NOT NULL COMMENT '',
  `P_MFGR` varchar(100) NOT NULL COMMENT '',
  `P_CATEGORY` varchar(100) NOT NULL COMMENT '',
  `P_BRAND` varchar(100) NOT NULL COMMENT '',
  `P_COLOR` varchar(100) NOT NULL COMMENT '',
  `P_TYPE` varchar(100) NOT NULL COMMENT '',
  `P_SIZE` tinyint(4) NOT NULL COMMENT '',
  `P_CONTAINER` varchar(100) NOT NULL COMMENT ''
) engine = tianmu ;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue852.txt' Into TABLE lineorder_flat FIELDS TERMINATED BY ',' enclosed by '"' ;
select * from lineorder_flat;
drop table lineorder_flat;

DROP DATABASE issue852_test;
"""

SCRIPT_UNSIGNED_JOIN = """--source include/have_tianmu.inc

--echo #
--echo # Test unsigned_join
--echo #

--disable_warnings
DROP DATABASE IF EXISTS unsigned_joins_test;
--enable_warnings

CREATE DATABASE unsigned_joins_test;
USE unsigned_joins_test;

create table customer (
        c_custkey int unsigned,
        c_name varchar (25),
        c_address varchar (40),
        c_nationkey int,
        c_phone char (15),
        c_acctbal decimal(12,2),
        c_mktsegment char (10),
        c_comment varchar (117)
);

create table orders (
        o_orderkey int,
        o_custkey int unsigned,
        o_orderstatus char (1),
        o_totalprice decimal(12,2),
        o_orderdate date,
        o_orderpriority char (15),
        o_clerk char (15),
        o_shippriority int,
        o_comment varchar (79)
);

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/1m_customer.tbl' INTO TABLE customer FIELDS TERMINATED BY '|';
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/1m_orders.tbl' INTO TABLE orders FIELDS TERMINATED BY '|';

# Join
select count(*) as count1 from customer join orders on orders.o_custkey = customer.c_custkey;
select count(*) as count2 from customer left join orders on orders.o_custkey = customer.c_custkey;
select count(*) as count3 from customer right join orders on orders.o_custkey = customer.c_custkey;
select count(*) as count4 from customer where exists (select o_custkey from orders where orders.o_custkey = customer.c_custkey);
select count(*) as count5 from customer where not exists (select o_custkey from orders where orders.o_custkey = customer.c_custkey);

# Clean UP
DROP DATABASE unsigned_joins_test;
"""

SCRIPT_CAST_DATA_TYPES = """--echo #
--echo # CAST Data types
--echo # Author: ysw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS cast_data_types;
--enable_warnings

CREATE DATABASE cast_data_types;
USE cast_data_types;

CREATE TABLE t1(t1_int INT, t1_decimal DECIMAL(5,3), t1_char CHAR(10), t1_text TEXT, t1_varchar VARCHAR(50))ENGINE=tianmu;
INSERT INTO t1 VALUES(NULL, NULL, '', '', '');
INSERT INTO t1 VALUES(512762, 86.722, 'A', repeat('a',50), repeat('b',50));
INSERT INTO t1 VALUES(-512762, -86.722, '123456', repeat('1',50), repeat('2',50));

SELECT * FROM t1;
SELECT CAST(t1_int AS SIGNED), CAST(t1_decimal AS SIGNED), CAST(t1_char AS SIGNED), CAST(t1_text AS SIGNED), CAST(t1_varchar AS SIGNED) FROM t1;
#UNSIGNED:stonedb is not supported, to be released after support(2022-10-26)
#SELECT CAST(t1_int AS UNSIGNED), CAST(t1_decimal AS UNSIGNED), CAST(t1_char AS UNSIGNED), CAST(t1_text AS UNSIGNED), CAST(t1_varchar AS UNSIGNED) FROM t1;
SELECT CAST(t1_int AS CHAR(10)), CAST(t1_decimal AS CHAR(10)), CAST(t1_char AS CHAR(10)), CAST(t1_text AS CHAR(10)), CAST(t1_varchar AS CHAR(10)) FROM t1;
SELECT CAST(t1_int AS DECIMAL(6,5)), CAST(t1_decimal AS DECIMAL(6,5)), CAST(t1_char AS DECIMAL(6,5)), CAST(t1_text AS DECIMAL(6,5)), CAST(t1_varchar AS DECIMAL(6,5)) FROM t1;

--error ER_M_BIGGER_THAN_D
SELECT CAST(t1_int AS DECIMAL(4,5)) FROM t1;
--error ER_TOO_BIG_PRECISION
SELECT CAST(t1_int AS DECIMAL(66,6)) FROM t1;
--error ER_TOO_BIG_SCALE
SELECT CAST(t1_int AS DECIMAL(64,63)) FROM t1;

# Clean UP
DROP DATABASE cast_data_types;
"""

SCRIPT_SELECT_PRECISION = """--source include/have_tianmu.inc

--echo #
--echo # SELECT PRECISION
--echo #

--disable_warnings
DROP DATABASE IF EXISTS select_precision_test;
--enable_warnings

CREATE DATABASE select_precision_test;
USE select_precision_test;

SELECT @@sql_mode;
CREATE TABLE t (col TINYINT);
--error ER_WARN_DATA_OUT_OF_RANGE
INSERT INTO t SET col = 128;
SELECT col FROM t;
--error ER_DIVISION_BY_ZERO
INSERT INTO t SET col = 1 / 0;
SELECT col FROM t;

--disable_warnings
SET sql_mode='';
INSERT INTO t SET col = 128;
SELECT col FROM t;
INSERT INTO t SET col = 1 / 0;
SELECT col FROM t;
--enable_warnings

CREATE TABLE t1 (col FLOAT);
INSERT INTO t1 VALUES (NULL),(2.13),(-2.13),(21.5e0),(-21.5e0),(35.498),(986.512),(-376012.9751);
SELECT col, ROUND(col), ROUND(col,1), ROUND(col,-1), ROUND(col,-2), ROUND(col,3) FROM t1;

SELECT (.1 + .2) = .3;
SELECT (.1e0 + .2e0) = .3e0;
SELECT .01 * .01;
SELECT .1 / .1;

SET sql_mode=default;

# Clean UP
DROP DATABASE select_precision_test;
"""

SCRIPT_ISSUE1000 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1000_test;
--enable_warnings

CREATE DATABASE issue1000_test;

USE issue1000_test;

--echo #
--echo # Test of skip lines syntax
--echo #
CREATE TABLE `tmp_loaddata` (
`id` int(11) NOT NULL,
`name` varchar(100) DEFAULT NULL,
PRIMARY KEY (`id`)
) ENGINE=tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-1.txt' Into TABLE tmp_loaddata FIELDS TERMINATED BY ',' ignore 1 lines;
select * from tmp_loaddata;
truncate table tmp_loaddata;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-1.txt' Into TABLE tmp_loaddata FIELDS TERMINATED BY ',' ignore 2 lines;
select * from tmp_loaddata;
truncate table tmp_loaddata;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-1.txt' Into TABLE tmp_loaddata FIELDS TERMINATED BY ',' ignore 3 lines;
select * from tmp_loaddata;
truncate table tmp_loaddata;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-1.txt' Into TABLE tmp_loaddata FIELDS TERMINATED BY ',' ignore 4 lines;
select * from tmp_loaddata;

--echo #
--echo # Test of specified syntax
--echo #
CREATE TABLE `tmp_loaddata2` (
`id1` int(11) NOT NULL,
`id2` int(11) NOT NULL,
PRIMARY KEY (`id1`)
) ENGINE=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE  '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata2 FIELDS TERMINATED BY ',' ignore 1 lines(id1,id2);
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE  '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata2 FIELDS TERMINATED BY ',' ignore 1 lines(id2,id1);

select * from tmp_loaddata2;
--echo #
--echo # Test of set syntax
--echo #
CREATE TABLE `tmp_loaddata3` (
`id1` int(11) NOT NULL,
`id2` int(11) NOT NULL,
PRIMARY KEY (`id1`)
) ENGINE=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata3 FIELDS TERMINATED BY ',' ignore 1 lines(id1,@var1) set id2 = @var1 +100  ;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata3 FIELDS TERMINATED BY ',' ignore 1 lines(id2,id1);
select * from tmp_loaddata3;

--echo #
--echo # Test of default
--echo #
CREATE TABLE `tmp_loaddata4` (
`id1` int(11) NOT NULL,
`id2` int(11) NOT NULL,
`id3` int(11) default 9,
PRIMARY KEY (`id1`)
) ENGINE=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata4 FIELDS TERMINATED BY ',' ignore 1 lines(id1,id2);
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata4 FIELDS TERMINATED BY ',' ignore 1 lines(id2,id1);
select * from tmp_loaddata4;

--echo #
--echo # Test of auto-increment
--echo #
CREATE TABLE `tmp_loaddata5` (
`id` int auto_increment primary key,
`id1` int NOT NULL,
`id2` int NOT NULL,
`id3` int default 6
) ENGINE=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata5 FIELDS TERMINATED BY ',' ignore 1 lines(id1,id2);
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000-2.txt' Into TABLE tmp_loaddata5 FIELDS TERMINATED BY ',' ignore 1 lines(id2,id1);
select * from tmp_loaddata5;

--echo #
--echo # Test of this case
--echo #
create temporary table error_log (row int auto_increment primary key,   suspicious int default 1,   file_name varchar(255),   line varchar(1024) default null )engine=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1000.txt' into table error_log fields terminated by 'xykls37' escaped by ''   ignore 1 lines (line) set file_name='/home/Code/GitHub/stonedb/build/install/mysql-test/var/log/mysqld.2.err';
select * from error_log;

--echo #
--echo # Clean Resource
--echo #
drop table tmp_loaddata;
drop table tmp_loaddata2;
drop table tmp_loaddata3;
drop table tmp_loaddata4;
drop table tmp_loaddata5;
drop table error_log;

DROP DATABASE issue1000_test;
"""

SCRIPT_INIT_AUTOINC = """--source include/have_tianmu.inc
#
# Test auto_increment_value with TIANMU
#
--disable_warnings
DROP DATABASE IF EXISTS auto_increment_value_db;
--enable_warnings

CREATE DATABASE auto_increment_value_db;
USE auto_increment_value_db;

# test init value
CREATE TABLE t_auto_increment_value (
  id int NOT NULL AUTO_INCREMENT,
  data VARCHAR(64) DEFAULT NULL,
  PRIMARY KEY (id)
) engine=tianmu AUTO_INCREMENT=100;
show create table t_auto_increment_value;
insert into t_auto_increment_value (data) values("first"),("middle"),("last");
select * from t_auto_increment_value;
show create table t_auto_increment_value;

# test update 
update t_auto_increment_value set id=80 where id=100;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"update_lt_max_id");
select * from t_auto_increment_value;

update t_auto_increment_value set id=200 where id=101;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"update_gt_max_id");
select * from t_auto_increment_value;

# test alter
alter table t_auto_increment_value AUTO_INCREMENT=300;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"alter_gt_max_id");
select * from t_auto_increment_value;

# when SET AUTO_INCREMENT < max_id, AUTO_INCREMENT value wouldnot be changed.
alter table t_auto_increment_value AUTO_INCREMENT=50;
select * from t_auto_increment_value;
show create table t_auto_increment_value;
insert into t_auto_increment_value (id, data) values(0,"alter_lt_max_id");
select * from t_auto_increment_value;


#test load data with auto_increment value into auto_increment col
CREATE TABLE load_auto_increment_value (
  id int(11) NOT NULL AUTO_INCREMENT, 
  company varchar(25), 
  PRIMARY KEY (id)
  ) ENGINE=TIANMU AUTO_INCREMENT=100;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/load_auto_increment_value.txt' INTO TABLE load_auto_increment_value FIELDS TERMINATED BY ';';
select * from load_auto_increment_value;
show create table load_auto_increment_value;

# Clean UP
DROP DATABASE auto_increment_value_db;
"""

SCRIPT_UNSIGNED_SUPPORT = """--source include/have_tianmu.inc

drop database if exists unsigned_support;
create database unsigned_support;
use unsigned_support;
# test with sql_mode = TRADITIONAL, refs:https://dev.mysql.com/doc/refman/5.6/en/out-of-range-and-overflow.html
create table tiny(a tinyint, b tinyint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into tiny values(-128, 0);
insert into tiny values(127, 127);
insert into tiny values(0, 127);
insert into tiny values(-0, -0);
insert into tiny values(+0, +0);
# unsigned > 127
#TODO deal with treated 128 as null, only exists in agg: insert into tiny values(0, 128);
insert into tiny values(0, 129);
insert into tiny values(0, 255);
select * from tiny;
# before: test out of range, currently the max value of unsigned is equal to signed
# after: the max value of unsigned is equal to max unsigned
# column signed a out of value
--error 1264
insert into tiny values(-129, 0);
--error 1264
insert into tiny values(128, 0);
--error 1264
insert into tiny values(1234, 0);
# column unsigned b out of value(>255 || <0), deal with mysql
--error 1264
insert into tiny values(0, -1);
--error 1264
insert into tiny values(0, -127);
--error 1264
insert into tiny values(0, 256);
--error 1264
insert into tiny values(0, 1234567);
select * from tiny;

# test agg, refs: https://dev.mysql.com/doc/refman/5.7/en/aggregate-functions.html#function_bit-and
# test basic agg, Item func override impl by tianmu
select avg(b), sum(b), max(b), min(b), count(b) from tiny;
# advanced agg, override by tianmu
select bit_and(b), bit_or(b), bit_xor(b), group_concat(b), std(b), stddev(b), stddev_pop(b), stddev_samp(b), var_pop(b), var_samp(b), variance(b) from tiny;
# test operators
# test where, limit, order by clause
select a+0, b+0 from tiny where a = -128 and b = 0 limit 2;
select a+0, b+0 from tiny where a = 0 and b = -256;
select a+0, b+0 from tiny where a != 0 and b != 0 and a=b;
select a+0, b+0 from tiny order by b desc;

# test boundary operations, unsigned bigint is 20 bits digits
select b * 12345678910111213 from tiny;
# error like mysql does: BIGINT UNSIGNED value is out of range in '(`test`.`tiny`.`b` * 1234567891011121312)'
--error 1690
select b * 123456789101112131 from tiny;
--error 1690
select b * 12345678910111213123 from tiny;
# error(mysql will be numeric results, diff with tianmu):  Numeric result of an expression is too large and cannot be handled by tianmu. Please use an explicit cast to a data type handled by tianmu, e.g. CAST(<expr> AS DECIMAL(18,6)).
--error 1105
select b * 12345678910111213123456 from tiny;

drop table tiny;

create table small(a smallint, b smallint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into small values(-32768, 0);
insert into small values(0, 0);
insert into small values(122, 122);
insert into small values(32767, 32767);
insert into small values(-0, -0);
insert into small values(+0, +0);
#TODO deal with null: insert into small values(0, 32768);
insert into small values(0, 32769);
insert into small values(0, 41234);
insert into small values(0, 65535);
select * from small;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into small values(-32769, 0);
--error 1264
insert into small values(32768, 0);
--error 1264
insert into small values(-3276911, 0);
--error 1264
insert into small values(3276811, 0);
# column unsigned b out of value(>65535 || <0), deal with mysql
--error 1264
insert into small values(0, -1);
--error 1264
insert into small values(0, -32768);
--error 1264
insert into small values(0, 65536);
--error 1264
insert into small values(0, 1234567);
select * from small;

# test agg, refs: https://dev.mysql.com/doc/refman/5.7/en/aggregate-functions.html#function_bit-and
# test basic agg, Item func override impl by tianmu
select avg(b), sum(b), max(b), min(b), count(b) from small;
# advanced agg, override by tianmu
select bit_and(b), bit_or(b), bit_xor(b), group_concat(b), std(b), stddev(b), stddev_pop(b), stddev_samp(b), var_pop(b), var_samp(b), variance(b) from small;
# test operators
# test where, limit, order by clause
select a+0, b+0 from small where a = -32768 and b = 0 limit 2;
select a+0, b+0 from small where a = 0 and b = -32768;
select a+0, b+0 from small where a != 0 and b != 0 and a=b;
select a+0, b+0 from small order by b desc;

# test boundary operations, unsigned bigint is 20 bits digits
select b * 123456789101112 from small;
# error like mysql does: BIGINT UNSIGNED value is out of range in '(`test`.`small`.`b` * 1234567891011121312)'
--error 1690
select b * 123456789101112131 from small;
--error 1690
select b * 12345678910111213123 from small;
# error(mysql will be numeric results, diff with tianmu):  Numeric result of an expression is too large and cannot be handled by tianmu. Please use an explicit cast to a data type handled by tianmu, e.g. CAST(<expr> AS DECIMAL(18,6)).
--error 1105
select b * 12345678910111213123456 from small;

drop table small;

create table medium(a mediumint, b mediumint unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly
insert into medium values(-8388608, 0);
insert into medium values(0, 0);
insert into medium values(122, 122);
insert into medium values(8388607, 8388607);
insert into medium values(-0, -0);
insert into medium values(+0, +0);
#TODO deal with null: insert into medium values(0, 8388608);
insert into medium values(0, 8388609);
insert into medium values(0, 8388610);
insert into medium values(0, 16777215);
select * from medium;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into medium values(-8388609, 0);
--error 1264
insert into medium values(8388608, 0);
--error 1264
insert into medium values(-8388608111, 0);
--error 1264
insert into medium values(8388608111, 0);
# column unsigned b out of value(>8388607 || <0), deal with mysql
--error 1264
insert into medium values(0, -1);
--error 1264
insert into medium values(0, -8388608);
--error 1264
insert into medium values(0, 16777216);
--error 1264
insert into medium values(0, 1677721511);
select * from medium;

# test agg, refs: https://dev.mysql.com/doc/refman/5.7/en/aggregate-functions.html#function_bit-and
# test basic agg, Item func override impl by tianmu
select avg(b), sum(b), max(b), min(b), count(b) from medium;
# advanced agg, override by tianmu
select bit_and(b), bit_or(b), bit_xor(b), group_concat(b), std(b), stddev(b), stddev_pop(b), stddev_samp(b), var_pop(b), var_samp(b), variance(b) from medium;
# test operators
# test where, limit, order by clause
select a+0, b+0 from medium where a = -8388608 and b = 0 limit 2;
select a+0, b+0 from medium where a = 0 and b = -8388608;
select a+0, b+0 from medium where a != 0 and b != 0 and a=b;
select a+0, b+0 from medium order by b desc;

# test boundary operations, unsigned bigint is 20 bits digits
select b * 123456789101 from medium;
# error like mysql does: BIGINT UNSIGNED value is out of range in '(`test`.`medium`.`b` * 1234567891011121312)'
--error 1690
select b * 12345678910123 from medium;
--error 1690
select b * 12345678910111213123 from medium;
# error(mysql will be numeric results, diff with tianmu):  Numeric result of an expression is too large and cannot be handled by tianmu. Please use an explicit cast to a data type handled by tianmu, e.g. CAST(<expr> AS DECIMAL(18,6)).
--error 1105
select b * 123456789101112131234 from medium;

drop table medium;

create table int_(a int, b int unsigned) engine = tianmu DEFAULT CHARSET=utf8mb4;
# test insert correctly, range[-2147483647, 2147483647]
insert into int_ values(-2147483647, 0);
insert into int_ values(0, 0);
insert into int_ values(122, 122);
insert into int_ values(2147483647, 2147483647);
insert into int_ values(-0, -0);
insert into int_ values(+0, +0);
#TODO: deal with 2147483648
insert into int_ values(0, 2147483649);
insert into int_ values(0, 3294967295);
insert into int_ values(0, 4294967295);
select * from int_;
# test out of range, currently the max value of unsigned is equal to signed
# column signed a out of value
--error 1264
insert into int_ values(-2147483649, 0);
--error 1264
insert into int_ values(2147483648, 0);
--error 1264
insert into int_ values(-214748364811, 0);
--error 1264
insert into int_ values(214748364811, 0);
# deal with tianmu, -2147483648 also deal with tianmu
--error 1264
insert into int_ values(-2147483648, 0);
# column unsigned b out of value(>4294967295 || <0), deal with mysql
--error 1264
insert into int_ values(0, -1);
--error 1264
insert into int_ values(0, -4294967295);
--error 1264
insert into int_ values(0, 4294967296);
--error 1264
insert into int_ values(0, 429496729611);
select * from int_;

# test agg, refs: https://dev.mysql.com/doc/refman/5.7/en/aggregate-functions.html#function_bit-and
# test basic agg, Item func override impl by tianmu
select avg(b), sum(b), max(b), min(b), count(b) from int_;
# advanced agg, override by tianmu
select bit_and(b), bit_or(b), bit_xor(b), group_concat(b), std(b), stddev(b), stddev_pop(b), stddev_samp(b), var_pop(b), var_samp(b), variance(b) from int_;
# test operators
# test where, limit, order by clause
select a+0, b+0 from int_ where a = -2147483647 and b = 0 limit 2;
select a+0, b+0 from int_ where a = 0 and b = -2147483648;
select a+0, b+0 from int_ where a != 0 and b != 0 and a=b;
select a+0, b+0 from int_ order by b desc;

# test boundary operations, unsigned bigint is 20 bits digits
select b * 1234567891 from int_;
# error like mysql does: BIGINT UNSIGNED value is out of range in '(`test`.`int_`.`b` * 1234567891011121312)'
--error 1690
select b * 12345678910 from int_;
--error 1690
select b * 12345678910123456789 from int_;
# error(mysql will be numeric results, diff with tianmu):  Numeric result of an expression is too large and cannot be handled by tianmu. Please use an explicit cast to a data type handled by tianmu, e.g. CAST(<expr> AS DECIMAL(18,6)).
--error 1105
select b * 123456789101234567891 from int_;
drop table int_;

# explict test strictive modes
# min int value in tianmu is -2147483647, -2147483648 is used for null, so here we do not test signed int
CREATE TABLE t1(i1 TINYINT, i2 TINYINT UNSIGNED, i3 SMALLINT, i4 SMALLINT UNSIGNED, i5 MEDIUMINT, i6 MEDIUMINT UNSIGNED, i7 INT UNSIGNED);
SET sql_mode = 'TRADITIONAL';
--error 1264
INSERT INTO t1 VALUES(128, 256, 32768, 65536, 8388608, 16777216, 4294967296);
--error 1264
INSERT INTO t1 VALUES(-129, -1, -32769, -1, -8388609, -1, 4294967296);
SELECT * FROM t1;

# test no restrictive modes are enabled, SET sql_mode = '';
SET sql_mode = '';
INSERT INTO t1 VALUES(128, 256, 32768, 65536, 8388608, 16777216, 4294967296);
INSERT INTO t1 VALUES(-129, -1, -32769, -1, -8388609, -1, -1);
SELECT * FROM t1;
DROP TABLE t1;
# test load export related issue1329, test both with out of boundary
create table load_unsigned(
  `ut` tinyint(3) unsigned DEFAULT NULL,
  `us` smallint(5) unsigned DEFAULT NULL,
  `um` mediumint(8) unsigned DEFAULT NULL,
  `ui` int(10) unsigned DEFAULT NULL
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/load_export_unsigned.txt' INTO TABLE load_unsigned FIELDS TERMINATED BY ',';
select * from load_unsigned;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval select * into outfile "$MYSQL_TEST_DIR/suite/tianmu/tmp/unsigned_outfile-test.txt" from load_unsigned;
truncate table load_unsigned;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL INFILE '$MYSQL_TEST_DIR/suite/tianmu/tmp/unsigned_outfile-test.txt' INTO TABLE load_unsigned;
select * from load_unsigned;
drop table load_unsigned;

drop database unsigned_support;
"""

SCRIPT_ISSUE1169 = r"""--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1169_test;
--enable_warnings

CREATE DATABASE issue1169_test CHARACTER SET = utf8mb4;

USE issue1169_test;
select @@character_set_database;
CREATE TABLE `customer_branch_account` (
  `id` bigint(20) NOT NULL AUTO_INCREMENT,
  `branch_org_name` varchar(255) DEFAULT NULL COMMENT '',
  `branch_org_code` varchar(50) NOT NULL COMMENT '',
  `customer_name` varchar(255) DEFAULT NULL COMMENT '',
  `customer_code` varchar(50) NOT NULL COMMENT '',
  `agency_org_code` varchar(50) NOT NULL COMMENT '',
  `agency_org_name` varchar(255) DEFAULT NULL COMMENT '',
  `shop` varchar(20) DEFAULT NULL COMMENT '',
  `shop_name` varchar(50) DEFAULT NULL COMMENT '',
  `draw_category` varchar(50) NOT NULL COMMENT '',
  `transfer_course` int(11) NOT NULL COMMENT '',
  `acc_id` bigint(20) DEFAULT NULL COMMENT '',
  `extension` varchar(255) DEFAULT NULL,
  `instance_id` bigint(20) DEFAULT NULL,
  `create_person` varchar(20) DEFAULT NULL,
  `create_time` datetime DEFAULT NULL,
  `update_person` varchar(20) DEFAULT NULL,
  `update_time` datetime DEFAULT NULL,
  `tenant_id` tinyint(1) DEFAULT '0',
  `dr` tinyint(1) DEFAULT '0',
  `type` tinyint(4) NOT NULL COMMENT '',
  `change_sign` varchar(50) DEFAULT NULL COMMENT '',
  `rebate_item` varchar(30) DEFAULT NULL COMMENT '',
  `rebate_subitem` varchar(30) DEFAULT NULL COMMENT '',
  PRIMARY KEY (`id`) USING BTREE
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 ROW_FORMAT=DYNAMIC COMMENT='关系表';

INSERT INTO `customer_branch_account` VALUES (1294275002876649148,x'E6998BE89299E58886E585ACE58FB8','RGB03-210597',x'E9A298E79BAE36E38090E5BCA0E694B9E78EB2E4B8ADE58FB0E5AD98E9878FE8A1A5E58585E5AEA2E688B7E38091','2120954','RGB03-210608',x'E995BFE6B2BB','3000252',x'E9A298E79BAE36E38090E5BCA0E694B9E78EB2E4B8ADE58FB0E5AD98E9878FE8A1A5E58585E5AEA2E688B7E38091E997A8E5BA97E4B880','PL01',0,1471413534935126016,NULL,-1,'','2021-12-16 17:34:59','','2021-12-16 17:34:59',-1,0,0,NULL,NULL,NULL);

--replace_result $MYSQLTEST_VARDIR MYSQLTEST_VARDIR
eval select * from customer_branch_account into outfile "$MYSQLTEST_VARDIR/tmp/issue1169_out_1.txt" fields terminated by ',' enclosed by '"' lines terminated by '\n' ;
--diff_files $MYSQL_TEST_DIR/suite/tianmu/std_data/issue1169_out_1.txt $MYSQLTEST_VARDIR/tmp/issue1169_out_1.txt
--remove_file $MYSQLTEST_VARDIR/tmp/issue1169_out_1.txt

set @TIANMU_LOAD_NULL='\\\N';
--replace_result $MYSQLTEST_VARDIR MYSQLTEST_VARDIR
eval select * from customer_branch_account into outfile "$MYSQLTEST_VARDIR/tmp/issue1169_out_2.txt" fields terminated by ',' enclosed by '"' lines terminated by '\n' ;
--diff_files $MYSQL_TEST_DIR/suite/tianmu/std_data/issue1169_out_2.txt $MYSQLTEST_VARDIR/tmp/issue1169_out_2.txt
--remove_file $MYSQLTEST_VARDIR/tmp/issue1169_out_2.txt

truncate table customer_branch_account;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA local INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1169.txt' Into TABLE customer_branch_account fields terminated by ',' enclosed by '"' lines terminated by '\n' ;
select hex(branch_org_name), hex(customer_name), hex(shop_name) from customer_branch_account;
--echo #
--echo # Clean Resource
--echo #
drop table customer_branch_account;

DROP DATABASE issue1169_test;


"""

SCRIPT_ISSUE1153 = r"""--source include/have_tianmu.inc

create table test1(a bigint NULL ) engine=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test1 fields terminated by ";"  optionally enclosed by '';
show warnings;
select * from test1;
truncate table test1;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test1 fields terminated by ";"  optionally enclosed by '"';
show warnings;
select * from test1;
truncate table test1;



set @var1 = 888;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test1 fields terminated by ";"  optionally enclosed by '"' set a = @var1/2;
show warnings;
select * from test1;
truncate table test1;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test1 fields terminated by ";"  optionally enclosed by '' set a = @var1/2;
show warnings;
select * from test1;
truncate table test1;



create table test2(a bigint NOT NULL) engine=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test2 fields terminated by ";"  optionally enclosed by '';
show warnings;
select * from test2;
truncate table test2;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test2 fields terminated by ";"  optionally enclosed by '"';
show warnings;
select * from test2;
truncate table test2;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test2 fields terminated by ";"  optionally enclosed by '"' set a = @var1/2;
show warnings;
select * from test2;
truncate table test2;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-1.txt' into table test2 fields terminated by ";"  optionally enclosed by '' set a = @var1/2;
show warnings;
select * from test2;
truncate table test2;



create table test3(a varchar(10) NULL ) engine=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-2.txt' into table test3 fields terminated by ";"  optionally enclosed by '';
show warnings;
select * from test3;
truncate table test3;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-2.txt' into table test3 fields terminated by ";"  optionally enclosed by '"';
show warnings;
select * from test3;
truncate table test3;



create table test4(a varchar(10) NOT NULL ) engine=tianmu;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-2.txt' into table test4 fields terminated by ";"  optionally enclosed by '';
show warnings;
select * from test4;
truncate table test4;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1153-2.txt' into table test4 fields terminated by ";"  optionally enclosed by '"';
show warnings;
select * from test4;
truncate table test4;
"""

SCRIPT_ISSUE1865 = r"""--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1865_test_db;
--enable_warnings

CREATE DATABASE issue1865_test_db;

USE issue1865_test_db;

create table t1 (a int default 100, b int, c varchar(60))engine=tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1865.dat' into table t1 (a, c);
select * from t1;

alter table t1 alter column b drop default;
alter table t1 alter column b set default 10;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1865.dat' into table t1 (a, c);
select * from t1;

alter table t1 modify c text;
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1865.dat' into table t1 (a, c);
select * from t1;

DROP DATABASE issue1865_test_db;
"""

SCRIPT_ISSUE1107 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1107_test;
--enable_warnings

CREATE DATABASE issue1107_test;

USE issue1107_test;

--disable_warnings

# ONLY_FULL_GROUP_BY

SET @@sql_mode ='STRICT_TRANS_TABLES,NO_ZERO_IN_DATE,NO_ZERO_DATE,ERROR_FOR_DIVISION_BY_ZERO,NO_ENGINE_SUBSTITUTION';

select @@sql_mode;

## DDL

DROP TABLE IF EXISTS A;
DROP TABLE IF EXISTS B;

create table A(id int,UnitSN varchar(10),CTIME datetime) engine=tianmu;

create table B(id int,AID int,Name varchar(10),value varchar(10)) engine=tianmu;

## insert data

insert into A values(1,'A1','2022-12-09 01:00:00');
insert into A values(2,'A2','2022-12-09 02:00:00');
insert into A values(3,'A3','2022-12-09 03:00:00');
insert into A values(4,'A4','2022-12-09 04:00:00');
insert into A values(5,'A5','2022-12-09 05:00:00');
 
insert into B values(1,1,'V1','XXXXXXX1');
insert into B values(2,1,'V2','XXXXXXX2');
insert into B values(3,1,'V3','XXXXXXX3');
insert into B values(4,1,'V4','XXXXXXX4');
insert into B values(5,1,'V5','XXXXXXX5');

## query of group by

select a.ID,
       a.UNITSN,
       case upper(b.NAME) when 'V1' then b.VALUE else null end as V1,
       case upper(b.NAME) when 'V2' then b.VALUE else null end as V2,
       case upper(b.NAME) when 'V3' then b.VALUE else null end as V3,
       case upper(b.NAME) when 'V4' then b.VALUE else null end as V4,
       case upper(b.NAME) when 'V5' then b.VALUE else null end as V5
  from A a
  left join B b
    on a.ID = b.AID
 group by a.ID, a.UNITSN;

## clean test table

DROP TABLE A;
DROP TABLE B;

DROP DATABASE issue1107_test;
"""

SCRIPT_BIT_TYPE = """--source include/have_tianmu.inc

drop database if exists test_bit;
create database test_bit;
drop table if exists bittypes, t;
CREATE TABLE t (b BIT(8));
# insert values using literals: https://dev.mysql.com/doc/refman/8.0/en/bit-value-literals.html
INSERT INTO t SET b = b'11111111';
INSERT INTO t SET b = B'1010';
INSERT INTO t SET b = 0b0101;
INSERT INTO t values(b'1'), (B'1010'), (0b0101);
SELECT b+0, BIN(b), OCT(b), HEX(b) FROM t;

# data too long
--error 1406
INSERT INTO t values(b'111111111');

# wrong SQL syntax
--error 1064
insert into t values(b'2');

--error 1054
insert into t values(0B111);

# insert values with string mode
drop table t;
CREATE TABLE t (b BIT(8));
insert into t values('');
insert into t values(' ');
insert into t values('1');
insert into t values('2');
insert into t values('9');
SELECT b+0, BIN(b), OCT(b), HEX(b) FROM t;

# ERROR 1406 (22001): Data too long for column 'b' at row 1
--error 1406
insert into t values('10');
--error 1406
insert into t values('  ');
--error 1406
insert into t values("22");
drop table t;

# test default M=1
CREATE TABLE t (b BIT);
insert into t values(b'0');
insert into t values(b'1');
insert into t values(b'');
SELECT b+0, BIN(b), OCT(b), HEX(b) FROM t;

# space will be parsed as num 32, so data too long error is returned
--error 1406
insert into t values(' ');
drop table t;
"""

SCRIPT_ISSUE1152 = """--source include/have_tianmu.inc

USE test;
--disable_warnings
set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
--enable_warnings
--disable_warnings
drop table if exists t_test;
--enable_warnings

CREATE TABLE `t_test`
(
    `id`   INT NOT NULL,
    `test` VARCHAR(64) DEFAULT NULL,
    `id1`  int NOT NULL,
    PRIMARY KEY (`id`, `id1`)
);
INSERT INTO t_test VALUES(1,'old',1);
REPLACE INTO t_test VALUES (8,'New',1);
SELECT * FROM t_test;
DROP TABLE t_test;"""

SCRIPT_ISSUE1258 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1258_test;
--enable_warnings

CREATE DATABASE issue1258_test;

USE issue1258_test;

set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';

CREATE TABLE `t_test` (
  `id` int(11) NOT NULL AUTO_INCREMENT,
  `first_name` varchar(10) NOT NULL,
  `last_name` varchar(10) NOT NULL,
  `sex` varchar(5) NOT NULL,
  `score` int(11) NOT NULL,
  `copy_id` int(11) NOT NULL,
  PRIMARY KEY (`id`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

insert into t_test values(1,"syz1","stonedb1","nan",99,21);
insert into t_test values(2,"syz2","stonedb2","nan",99,22);
insert into t_test values(3,"syz3","stonedb3","nan",99,23);
insert into t_test values(4,"syz4","stonedb4","nan",99,24);
insert into t_test values(5,"syz5","stonedb5","nan",99,25);

SELECT
	bb.first_name,
	bb.last_name 
FROM
	(
SELECT
	count(a.first_name ) AS first_name,
	SUBSTR( a.last_name, 1, 10 ) AS last_name 
FROM
	t_test a,
	t_test b 
WHERE
	a.id = b.id 
GROUP BY
	SUBSTR( a.last_name, 1, 10 ) 
	) bb;

DROP DATABASE issue1258_test;
"""

SCRIPT_ISSUE1784 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1784_test;

CREATE DATABASE issue1784_test;

USE issue1784_test;

### tianmu

## no value

create table t1 (age int) engine=tianmu;

select * from t1;

select age from t1;

select age, sum(age) from t1 group by age;

select age, sum(age) from (select * from t1) ta group by age;

select case when age is not null then age else 33 end, sum(age) from t1 group by age;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta group by age;

## has value

insert into t1 values(1);

select * from t1;

select age from t1;

select age, sum(age) from t1 group by age;

select age, sum(age) from (select * from t1) ta group by age;

select case when age is not null then age else 33 end, sum(age) from t1 group by age;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta group by age;

### innodb

## no value

drop table t1;

create table t1 (age int) engine=innodb;

select * from t1;

select age from t1;

select age, sum(age) from t1 group by age;

select age, sum(age) from (select * from t1) ta group by age;

select case when age is not null then age else 33 end, sum(age) from t1 group by age;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta group by age;

## has value

insert into t1 values(1);

select * from t1;

select age from t1;

select age, sum(age) from t1 group by age;

select age, sum(age) from (select * from t1) ta group by age;

select case when age is not null then age else 33 end, sum(age) from t1 group by age;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta group by age;

####

drop table t1;

SET sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';

### tianmu

## no value

create table t1 (age int) engine=tianmu;

select * from t1;

select age from t1;

select age, sum(age) from t1;

select age, sum(age) from (select * from t1) ta;

select case when age is not null then age else 33 end, sum(age) from t1;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta;

## has value

insert into t1 values(1);

select * from t1;

select age from t1;

select age, sum(age) from t1;

select age, sum(age) from (select * from t1) ta;

select case when age is not null then age else 33 end, sum(age) from t1;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta;

### innodb

## no value

drop table t1;

create table t1 (age int) engine=innodb;

select * from t1;

select age from t1;

select age, sum(age) from t1;

select age, sum(age) from (select * from t1) ta;

select case when age is not null then age else 33 end, sum(age) from t1;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta;

## has value

insert into t1 values(1);

select * from t1;

select age from t1;

select age, sum(age) from t1;

select age, sum(age) from (select * from t1) ta;

select case when age is not null then age else 33 end, sum(age) from t1;

select case when age is not null then age else 33 end, sum(age) from (select * from t1) ta;

## clean test database

DROP DATABASE issue1784_test;
"""

SCRIPT_CHARSETS_A = r"""--source include/have_tianmu.inc

--echo #
--echo # Test column length with different charsets (1)
--echo #

-- disable_warnings
drop database if exists different_charsets_a_test;
set character_set_client = utf8;
set character_set_connection = utf8;
set character_set_database = utf8mb4;
set character_set_results = utf8;
set character_set_server  = utf8mb4;
-- enable_warnings

create database different_charsets_a_test;
use different_charsets_a_test;

# st1 is for NOT NULL, st2 is for nullable fields
# VARCHAR tests
# Without character set
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                  c varchar(10) NOT NULL, d datetime NOT NULL,
                  e varchar(240) NOT NULL, f datetime NOT NULL,
                  g varchar(2000) NOT NULL, h datetime NOT NULL
                 );
create table st2 (a varchar(1), b datetime NOT NULL,
                  c varchar(10), d datetime NOT NULL,
                  e varchar(240), f datetime NOT NULL,
                  g varchar(2000), h datetime NOT NULL
                 );
create table i1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                 c varchar(10) NOT NULL, d datetime NOT NULL,
                 e varchar(240) NOT NULL, f datetime NOT NULL,
                 g varchar(2000) NOT NULL, h datetime NOT NULL
                );
create table i2 (a varchar(1), b datetime NOT NULL,
                 c varchar(10), d datetime NOT NULL,
                 e varchar(240), f datetime NOT NULL,
                 g varchar(2000), h datetime NOT NULL
                );
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        '1234567890', '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('12', '2020-10-25 01:02:05',
                        '1234567890', '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
						
--disable_warnings						
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               '1234567890', '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--enable_warnings
						   						   
insert into st3 values (_utf8mb4 0xE1B482, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_a_test' and table_name='st3';


# With mix of utf8 and utf8mb4 character sets at the column level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a varchar(1) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                  c varchar(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                  e varchar(240) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                  g varchar(2000) CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL
                 );
create table st2 (a varchar(1) CHARACTER SET utf8, b datetime NOT NULL,
                  c varchar(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                  e varchar(240) CHARACTER SET utf8, f datetime NOT NULL,
                  g varchar(2000) CHARACTER SET utf8mb4, h datetime NOT NULL
                 );
create table i1 (a varchar(1) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                 c varchar(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                 e varchar(240) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                 g varchar(2000) CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL
                );
create table i2 (a varchar(1) CHARACTER SET utf8, b datetime NOT NULL,
                 c varchar(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                 e varchar(240) CHARACTER SET utf8, f datetime NOT NULL,
                 g varchar(2000) CHARACTER SET utf8mb4, h datetime NOT NULL
                );
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
						
--disable_warnings
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--enable_warnings

--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_a_test' and table_name='st3';

# With utf8 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                  c varchar(10) NOT NULL, d datetime NOT NULL,
                  e varchar(240) NOT NULL, f datetime NOT NULL,
                  g varchar(2000) NOT NULL, h datetime NOT NULL
                 ) default character set utf8;
create table st2 (a varchar(1), b datetime NOT NULL,
                  c varchar(10), d datetime NOT NULL,
                  e varchar(240), f datetime NOT NULL,
                  g varchar(2000), h datetime NOT NULL
                 ) default character set utf8;
create table i1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                 c varchar(10) NOT NULL, d datetime NOT NULL,
                 e varchar(240) NOT NULL, f datetime NOT NULL,
                 g varchar(2000) NOT NULL, h datetime NOT NULL
                ) default character set utf8;
create table i2 (a varchar(1), b datetime NOT NULL,
                 c varchar(10), d datetime NOT NULL,
                 e varchar(240), f datetime NOT NULL,
                 g varchar(2000), h datetime NOT NULL
                ) default character set utf8;
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
						
--disable_warnings
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--enable_warnings

--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;

select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_a_test' and table_name='st3';

# With utf8mb4 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                  c varchar(10) NOT NULL, d datetime NOT NULL,
                  e varchar(240) NOT NULL, f datetime NOT NULL,
                  g varchar(2000) NOT NULL, h datetime NOT NULL
                 ) default character set utf8mb4;
create table st2 (a varchar(1), b datetime NOT NULL,
                  c varchar(10), d datetime NOT NULL,
                  e varchar(240), f datetime NOT NULL,
                  g varchar(2000), h datetime NOT NULL
                 ) default character set utf8mb4;
create table i1 (a varchar(1) NOT NULL, b datetime NOT NULL,
                 c varchar(10) NOT NULL, d datetime NOT NULL,
                 e varchar(240) NOT NULL, f datetime NOT NULL,
                 g varchar(2000) NOT NULL, h datetime NOT NULL
                ) default character set utf8mb4;
create table i2 (a varchar(1), b datetime NOT NULL,
                 c varchar(10), d datetime NOT NULL,
                 e varchar(240), f datetime NOT NULL,
                 g varchar(2000), h datetime NOT NULL
                ) default character set utf8mb4;
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
--disable_warnings
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--enable_warnings

insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_a_test' and table_name='st3';

# CHAR tests
# Without character set
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a char(1) NOT NULL, b datetime NOT NULL,
                  c char(10) NOT NULL, d datetime NOT NULL,
                  e char(240) NOT NULL, f datetime NOT NULL,
                  g char(255) NOT NULL, h datetime NOT NULL
                 );
create table st2 (a char(1), b datetime NOT NULL,
                  c char(10), d datetime NOT NULL,
                  e char(240), f datetime NOT NULL,
                  g char(255), h datetime NOT NULL
                 );
create table i1 (a char(1) NOT NULL, b datetime NOT NULL,
                 c char(10) NOT NULL, d datetime NOT NULL,
                 e char(240) NOT NULL, f datetime NOT NULL,
                 g char(255) NOT NULL, h datetime NOT NULL
                );
create table i2 (a char(1), b datetime NOT NULL,
                 c char(10), d datetime NOT NULL,
                 e char(240), f datetime NOT NULL,
                 g char(255), h datetime NOT NULL
                );
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        '1234567890', '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        '12345678901', '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
--disable_warnings
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               '12345678901', '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--enable_warnings

insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_a_test' and table_name='st3';

# clean up
drop table st1;
drop table st2;
drop table st3;
drop table i1;
drop table i2;

drop database different_charsets_a_test;
"""

SCRIPT_CHARSETS_B = r"""--source include/have_tianmu.inc

--echo #
--echo # Test column length with different charsets 2
--echo #

-- disable_warnings
drop database if exists different_charsets_test;
set character_set_client = utf8;
set character_set_connection = utf8;
set character_set_database = utf8mb4;
set character_set_results = utf8;
set character_set_server  = utf8mb4;
-- enable_warnings

create database different_charsets_test;
use different_charsets_test;

# CHAR tests
# With mix of utf8 and utf8mb4 character sets at the column level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a char(1) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                  c char(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                  e char(240) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                  g char(255) CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL
                 );
create table st2 (a char(1) CHARACTER SET utf8, b datetime NOT NULL,
                  c char(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                  e char(240) CHARACTER SET utf8, f datetime NOT NULL,
                  g char(255) CHARACTER SET utf8mb4, h datetime NOT NULL
                 );
create table i1 (a char(1) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                 c char(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                 e char(240) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                 g char(255) CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL
                );
create table i2 (a char(1) CHARACTER SET utf8, b datetime NOT NULL,
                 c char(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                 e char(240) CHARACTER SET utf8, f datetime NOT NULL,
                 g char(255) CHARACTER SET utf8mb4, h datetime NOT NULL
                );
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# With utf8 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a char(1) NOT NULL, b datetime NOT NULL,
                  c char(10) NOT NULL, d datetime NOT NULL,
                  e char(240) NOT NULL, f datetime NOT NULL,
                  g char(255) NOT NULL, h datetime NOT NULL
                 ) default character set utf8;
create table st2 (a char(1), b datetime NOT NULL,
                  c char(10), d datetime NOT NULL,
                  e char(240), f datetime NOT NULL,
                  g char(255), h datetime NOT NULL
                 ) default character set utf8;
create table i1 (a char(1) NOT NULL, b datetime NOT NULL,
                 c char(10) NOT NULL, d datetime NOT NULL,
                 e char(240) NOT NULL, f datetime NOT NULL,
                 g char(255) NOT NULL, h datetime NOT NULL
                ) default character set utf8;
create table i2 (a char(1), b datetime NOT NULL,
                 c char(10), d datetime NOT NULL,
                 e char(240), f datetime NOT NULL,
                 g char(255), h datetime NOT NULL
                ) default character set utf8;
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# With utf8mb4 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a char(1) NOT NULL, b datetime NOT NULL,
                  c char(10) NOT NULL, d datetime NOT NULL,
                  e char(240) NOT NULL, f datetime NOT NULL,
                  g char(255) NOT NULL, h datetime NOT NULL
                 ) default character set utf8mb4;
create table st2 (a char(1), b datetime NOT NULL,
                  c char(10), d datetime NOT NULL,
                  e char(240), f datetime NOT NULL,
                  g char(255), h datetime NOT NULL
                 ) default character set utf8mb4;
create table i1 (a char(1) NOT NULL, b datetime NOT NULL,
                 c char(10) NOT NULL, d datetime NOT NULL,
                 e char(240) NOT NULL, f datetime NOT NULL,
                 g char(255) NOT NULL, h datetime NOT NULL
                ) default character set utf8mb4;
create table i2 (a char(1), b datetime NOT NULL,
                 c char(10), d datetime NOT NULL,
                 e char(240), f datetime NOT NULL,
                 g char(255), h datetime NOT NULL
                ) default character set utf8mb4;
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06'
                      );
insert into i2(b, d, f, h) values ('2020-10-25 01:02:03',
                                   '2020-10-25 01:02:04',
                                   '2020-10-25 01:02:05',
                                   '2020-10-25 01:02:06'
                                  );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'abc', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:07');
--error 1406
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'abc', '2020-10-25 01:02:07',
                        'cde', '2020-10-25 01:02:08');
insert ignore into st3 values ('12', '2020-10-25 01:02:06',
                               _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:07',
                               'abc', '2020-10-25 01:02:08',
                               'cde', '2020-10-25 01:02:09');
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'abc', '2020-10-25 01:02:09',
                        'cde', '2020-10-25 01:02:10');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# TEXT tests
# Without character set
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 );
create table st2 (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 );
create table i1  (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 );
create table i2  (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 );
insert into i1 values ('a', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06',
                       'efg', '2020-10-25 01:02:07',
                       'fgh', '2020-10-25 01:02:08'
                      );
insert into i2(b, d, f, h, j, l) values ('2020-10-25 01:02:03',
                                         '2020-10-25 01:02:04',
                                         '2020-10-25 01:02:05',
                                         '2020-10-25 01:02:06',
                                         '2020-10-25 01:02:07',
                                         '2020-10-25 01:02:08'
                                        );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        '1234567890', '2020-10-25 01:02:05',
                        'cde', '2020-10-25 01:02:07',
                        'def', '2020-10-25 01:02:08',
                        'efg', '2020-10-25 01:02:09',
                        'fgh', '2020-10-25 01:02:10');
insert into st3 values ('1', '2020-10-25 01:02:05',
                        '12345678901', '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:08',
                        'def', '2020-10-25 01:02:09',
                        'efg', '2020-10-25 01:02:10',
                        'fgh', '2020-10-25 01:02:11');
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'cde', '2020-10-25 01:02:10',
                        'def', '2020-10-25 01:02:11',
                        'efg', '2020-10-25 01:02:12',
                        'fgh', '2020-10-25 01:02:13');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# With mix of utf8 and utf8mb4 character sets at the column level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a text(8) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                  c text(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                  e text(255) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                  g text CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL,
                  i text(65535) CHARACTER SET utf8 NOT NULL, j datetime NOT NULL,
                  k text(16777215) CHARACTER SET utf8mb4 NOT NULL, l datetime NOT NULL
                 );
create table st2 (a text(8) CHARACTER SET utf8, b datetime NOT NULL,
                  c text(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                  e text(255) CHARACTER SET utf8, f datetime NOT NULL,
                  g text CHARACTER SET utf8mb4, h datetime NOT NULL,
                  i text(65535) CHARACTER SET utf8, j datetime NOT NULL,
                  k text(16777215) CHARACTER SET utf8mb4, l datetime NOT NULL
                 );
create table i1  (a text(8) CHARACTER SET utf8 NOT NULL, b datetime NOT NULL,
                  c text(10) CHARACTER SET utf8mb4 NOT NULL, d datetime NOT NULL,
                  e text(255) CHARACTER SET utf8 NOT NULL, f datetime NOT NULL,
                  g text CHARACTER SET utf8mb4 NOT NULL, h datetime NOT NULL,
                  i text(65535) CHARACTER SET utf8 NOT NULL, j datetime NOT NULL,
                  k text(16777215) CHARACTER SET utf8mb4 NOT NULL, l datetime NOT NULL
                 );
create table i2  (a text(8) CHARACTER SET utf8, b datetime NOT NULL,
                  c text(10) CHARACTER SET utf8mb4, d datetime NOT NULL,
                  e text(255) CHARACTER SET utf8, f datetime NOT NULL,
                  g text CHARACTER SET utf8mb4, h datetime NOT NULL,
                  i text(65535) CHARACTER SET utf8, j datetime NOT NULL,
                  k text(16777215) CHARACTER SET utf8mb4, l datetime NOT NULL
                 );
insert into i1 values ('ab', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06',
                       'efg', '2020-10-25 01:02:07',
                       'fgh', '2020-10-25 01:02:08'
                      );
insert into i2(b, d, f, h, j, l) values ('2020-10-25 01:02:03',
                                         '2020-10-25 01:02:04',
                                         '2020-10-25 01:02:05',
                                         '2020-10-25 01:02:06',
                                         '2020-10-25 01:02:07',
                                         '2020-10-25 01:02:08'
                                        );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'cde', '2020-10-25 01:02:07',
                        'def', '2020-10-25 01:02:08',
                        'efg', '2020-10-25 01:02:09',
                        'fgh', '2020-10-25 01:02:10');
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:08',
                        'def', '2020-10-25 01:02:09',
                        'efg', '2020-10-25 01:02:10',
                        'fgh', '2020-10-25 01:02:11');
--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'cde', '2020-10-25 01:02:10',
                        'def', '2020-10-25 01:02:11',
                        'efg', '2020-10-25 01:02:12',
                        'fgh', '2020-10-25 01:02:13');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# With utf8 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 ) default character set utf8;
create table st2 (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 ) default character set utf8;
create table i1  (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 ) default character set utf8;
create table i2  (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 ) default character set utf8;
insert into i1 values ('ab', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06',
                       'efg', '2020-10-25 01:02:07',
                       'fgh', '2020-10-25 01:02:08'
                      );
insert into i2(b, d, f, h, j, l) values ('2020-10-25 01:02:03',
                                         '2020-10-25 01:02:04',
                                         '2020-10-25 01:02:05',
                                         '2020-10-25 01:02:06',
                                         '2020-10-25 01:02:07',
                                         '2020-10-25 01:02:08'
                                        );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'cde', '2020-10-25 01:02:07',
                        'def', '2020-10-25 01:02:08',
                        'efg', '2020-10-25 01:02:09',
                        'fgh', '2020-10-25 01:02:10');
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:08',
                        'def', '2020-10-25 01:02:09',
                        'efg', '2020-10-25 01:02:10',
                        'fgh', '2020-10-25 01:02:11');
--error 1366
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'cde', '2020-10-25 01:02:10',
                        'def', '2020-10-25 01:02:11',
                        'efg', '2020-10-25 01:02:12',
                        'fgh', '2020-10-25 01:02:13');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

# With utf8mb4 character set at the table level
--disable_warnings
drop table if exists st1;
drop table if exists st2;
drop table if exists st3;
drop table if exists i1;
drop table if exists i2;
--enable_warnings
create table st1 (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 ) default character set utf8mb4;
create table st2 (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 ) default character set utf8mb4;
create table i1  (a text(8) NOT NULL, b datetime NOT NULL,
                  c text(10) NOT NULL, d datetime NOT NULL,
                  e text(255) NOT NULL, f datetime NOT NULL,
                  g text NOT NULL, h datetime NOT NULL,
                  i text(65535) NOT NULL, j datetime NOT NULL,
                  k text(16777215) NOT NULL, l datetime NOT NULL
                 ) default character set utf8mb4;
create table i2  (a text(8), b datetime NOT NULL,
                  c text(10), d datetime NOT NULL,
                  e text(255), f datetime NOT NULL,
                  g text, h datetime NOT NULL,
                  i text(65535), j datetime NOT NULL,
                  k text(16777215), l datetime NOT NULL
                 ) default character set utf8mb4;
insert into i1 values ('ab', '2020-10-25 01:02:03',
                       'bcd', '2020-10-25 01:02:04',
                       'cde', '2020-10-25 01:02:05',
                       'def', '2020-10-25 01:02:06',
                       'efg', '2020-10-25 01:02:07',
                       'fgh', '2020-10-25 01:02:08'
                      );
insert into i2(b, d, f, h, j, l) values ('2020-10-25 01:02:03',
                                         '2020-10-25 01:02:04',
                                         '2020-10-25 01:02:05',
                                         '2020-10-25 01:02:06',
                                         '2020-10-25 01:02:07',
                                         '2020-10-25 01:02:08'
                                        );
insert into st1 select * from i1;
insert into st2 select * from i2;
select * from st1;
select * from st2;

# test some corner cases: wrong encoding, truncating, internal structure
create table st3 like st1;
insert into st3 values ('1', '2020-10-25 01:02:04',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0, '2020-10-25 01:02:05',
                        'cde', '2020-10-25 01:02:07',
                        'def', '2020-10-25 01:02:08',
                        'efg', '2020-10-25 01:02:09',
                        'fgh', '2020-10-25 01:02:10');
insert into st3 values ('1', '2020-10-25 01:02:05',
                        _utf8mb4 0xc2b9c2b2c2b3e281b4e281b5e281b6e281b7e281b8e281b9e281b0c2b9, '2020-10-25 01:02:06',
                        'cde', '2020-10-25 01:02:08',
                        'def', '2020-10-25 01:02:09',
                        'efg', '2020-10-25 01:02:10',
                        'fgh', '2020-10-25 01:02:11');
insert into st3 values (_utf8mb4 0xF09F988E, '2020-10-25 01:02:07',
                        '1234567890', '2020-10-25 01:02:08',
                        'cde', '2020-10-25 01:02:10',
                        'def', '2020-10-25 01:02:11',
                        'efg', '2020-10-25 01:02:12',
                        'fgh', '2020-10-25 01:02:13');
select * from st3;
select column_name, data_type, character_maximum_length, character_octet_length from information_schema.columns where table_schema='different_charsets_test' and table_name='st3';

drop table st1;
drop table st2;
drop table st3;
drop table i1;
drop table i2;

drop database different_charsets_test;
"""

SCRIPT_BIT_TYPE_OPS = """--source include/have_tianmu.inc

drop database if exists test_bit;
create database test_bit;

# test functions and operators
create table bit2(a bit(8), b bit(11)) engine=tianmu DEFAULT CHARSET=utf8mb4;
insert into bit2 values(b'10111', b'1011');
insert into bit2 values(b'10111111', b'1011000');
# test comparison operators: https://dev.mysql.com/doc/refman/5.7/en/comparison-operators.html
select a>b, a=b, a<b, a<=>b, a<>b, a!=b, a<=b, a>=b from bit2;
select COALESCE(a),greatest(a, 0), greatest(a, 123), a is true, b is false, a is null, isnull(b),least(a,2.0) from bit2;

# test Logical Operators: https://dev.mysql.com/doc/refman/5.7/en/logical-operators.html 
select not a, a is true, b is null, a is not null, !(a+b), a and b, a and 0, a and null, a or 1, a or b, a xor 1, a xor b, a xor 0 from bit2;

# test Mathematical Functions: https://dev.mysql.com/doc/refman/5.7/en/mathematical-functions.html
select abs(-a), abs(a), acos(b), asin(a), atan(b),atan2(a),ceil(a+0.1), ceiling(a+0.2),conv(a, 16,2), conv(a, 16, 10), conv(a, 16, 16) from bit2;
select cos(a), cot(b), degrees(a), exp(a), floor(a+0.33), ln(a), log(a), log10(a), log2(a), mod(a, 0), pi()+a, pow(a,b), radians(a), rand(a) from
bit2;
select round(a), sign(b), sin(a), sqrt(a), tan(a),truncate(a+0.1123, 2) from bit2;

# test date and time: https://dev.mysql.com/doc/refman/5.7/en/date-and-time-functions.html
SELECT DATE_ADD('2018-05-01',INTERVAL a DAY) from bit2;

# test string ... : https://dev.mysql.com/doc/refman/5.7/en/string-comparison-functions.html
select a like "10111", b not like "1011" from bit2;
select strcmp(a,b), strcmp(b,a),strcmp(a,a) from bit2;
select charset(binary a), collation(binary b) from bit2;
SELECT _latin1 b'1000001' from bit2;
SELECT _utf8mb4 0b1000001 COLLATE utf8mb4_danish_ci from bit2;
--error 1064
SELECT _utf8mb4 0B1000001 COLLATE utf8mb4_danish_ci from bit_test;

# test bit function & operators: https://dev.mysql.com/doc/refman/8.0/en/bit-functions.html
SELECT BIT_AND(a), BIT_OR(a), BIT_XOR(a), BIT_COUNT(a), bin(a >> 1), bin(a << 1), bin(~a), bin(a & b'1111'), a ^ b, a | b, a & b from bit2 group by a,b;

# test agg
select avg(a), count(distinct a), max(b),max(a),std(a),stddev(a),sum(a),var_pop(a),var_samp(b),variance(a) from bit2 group by a;


# test boundary operations, unsigned bigint is 20 bits digits
select a * 12345678910111213 from bit2;
# error like mysql does: BIGINT UNSIGNED value is out of range in '(`test`.`bit2`.`a` * 1234567891011121312)'
--error 1690
select a * 1234567891011121312 from bit2;
--error 1690
select a * 12345678910111213123 from bit2;
# error(mysql will be numeric results, diff with tianmu):  Numeric result of an expression is too large and cannot be handled by tianmu. Please use an explicit cast to a data type handled by tianmu, e.g. CAST(<expr> AS DECIMAL(18,6)).
--error 1105
select a * 12345678910111213123456 from bit2;
drop table bit2;

drop database test_bit;
"""

SCRIPT_INSERT_INTO_SELECT_PROC = """--source include/have_tianmu.inc

--echo #
--echo # Test of insert into data from different engines
--echo #

--disable_warnings
DROP DATABASE IF EXISTS insert_into_select_test;
--enable_warnings

CREATE DATABASE insert_into_select_test;
USE insert_into_select_test;

#
# Scenario-1: Tables with Default NULL
#
CREATE TABLE t1_i (
  `a` varchar(100) DEFAULT NULL
) ENGINE=innodb DEFAULT CHARSET=utf8 ;

CREATE TABLE t1_tianmu (
  `a` varchar(100) DEFAULT NULL
)DEFAULT CHARSET=utf8 ;

# Populate tables
DELIMITER //;
CREATE PROCEDURE generate_data()
BEGIN
  DECLARE i INT DEFAULT 0;
  TRUNCATE TABLE t1_i;
  TRUNCATE TABLE t1_tianmu;
  WHILE i < 5000 DO
    INSERT INTO t1_i VALUES (i);
    SET i = i + 1;
  END WHILE;
END//
DELIMITER ;//

CALL generate_data();
INSERT INTO t1_tianmu SELECT * FROM t1_i;
SELECT COUNT(*), SUM(t1_i.a IS NULL) FROM t1_i;
SELECT COUNT(*), SUM(t1_tianmu.a IS NULL) FROM t1_tianmu;

# Copy derived TIANMU table to innodb table
CREATE TABLE t2 LIKE t1_i;
INSERT INTO t2 SELECT *  FROM (SELECT * FROM t1_tianmu) derived;
SELECT COUNT(*), SUM(a IS NULL) FROM t2;
DROP TABLE t2;

# Copy derived innodb table to TIANMU table
CREATE TABLE t2 LIKE t1_tianmu;
INSERT INTO t2 SELECT * FROM (SELECT * FROM t1_i) derived;
SELECT COUNT(*), SUM(a IS NULL) FROM t2;
DROP TABLE t2;

# Copy derived TIANMU table to another TIANMU table
CREATE TABLE t2 LIKE t1_tianmu;
INSERT INTO t2 SELECT * FROM (SELECT * FROM t1_tianmu) derived;
SELECT COUNT(*), SUM(a IS NULL) FROM t2;
DROP TABLE t2;

#
# Scenario-2: Tables with NOT NULL constraint and a default value
#
DROP TABLE IF EXISTS t1_i;
DROP TABLE IF EXISTS t1_tianmu;

CREATE TABLE t1_i ( 
  `a` varchar(100) NOT NULL DEFAULT 123
) ENGINE=innodb DEFAULT CHARSET=utf8 ;

CREATE TABLE t1_tianmu ( 
  `a` varchar(100) NOT NULL DEFAULT 123
) DEFAULT CHARSET=utf8 ;

# Populate tables
CALL generate_data();
INSERT INTO t1_tianmu SELECT * FROM t1_i;
SELECT COUNT(*), SUM(t1_i.a IS NULL) FROM t1_i;
SELECT COUNT(*), SUM(t1_tianmu.a IS NULL) FROM t1_tianmu;

# Copy derived TIANMU table to innodb table
CREATE TABLE t2 LIKE t1_i;
INSERT INTO t2 SELECT *  FROM (SELECT * FROM t1_tianmu) derived;
SELECT * FROM t2 LIMIT 3;
DROP TABLE t2;

# Copy derived innodb table to TIANMU table
CREATE TABLE t2 LIKE t1_tianmu;
INSERT INTO t2 SELECT * FROM (SELECT * FROM t1_i) derived;
SELECT * FROM t2 LIMIT 3;
DROP TABLE t2;

# Copy derived TIANMU table to another TIANMU table
CREATE TABLE t2 LIKE t1_tianmu;
INSERT INTO t2 SELECT * FROM (SELECT * FROM t1_tianmu) derived;
SELECT * FROM t2 LIMIT 3;
DROP TABLE t2;

# Clean UP
DROP DATABASE insert_into_select_test;
"""

SCRIPT_REPLACE_INTO_X = """--source include/have_tianmu.inc

--echo #
--echo # Test replace into
--echo #

--disable_warnings
DROP DATABASE IF EXISTS replace_into_test;
--enable_warnings
CREATE DATABASE replace_into_test;
USE replace_into_test;

CREATE TABLE test (
  id INT NOT NULL,
  test VARCHAR(64) DEFAULT NULL,
  name TIMESTAMP NOT NULL,
  PRIMARY KEY (id)
);
insert into test values(1,'old','2014-08-20 18:47:00');
insert into test values(2,'old','2014-08-20 18:47:00');
REPLACE INTO test VALUES (1, 'New', '2014-08-20 18:47:42');
REPLACE INTO test VALUES (2, 'New', '2014-08-20 18:47:42');
delete from test where id=1;
REPLACE INTO test VALUES (2, 'Newnew', '2014-08-20 18:47:42');
REPLACE INTO test VALUES (1, 'New', '2014-08-20 18:47:42');
REPLACE INTO test VALUES (1, 'Newnew', '2014-08-20 18:47:42');
select * from test;

CREATE TABLE test1 (
  id INT NOT NULL,
  test VARCHAR(64) DEFAULT NULL,
  id1 int NOT NULL,
  PRIMARY KEY (id,id1)
);
insert into test1 values(1,'old',1);
insert into test1 values(2,'old',2);
REPLACE INTO test1 VALUES (1, 'New', '8');
REPLACE INTO test1 VALUES (1, 'New', '1');
REPLACE INTO test1 VALUES (8, 'New', '2');
select * from test1;

CREATE TABLE `insert_relpace_into_test` (
  `id` int(10),
  `uniq_id` varchar(32),
  `filed_a` varchar(32) DEFAULT '' ,
  `filed_b` varchar(32) DEFAULT '',
  `version` int(10) DEFAULT '0',
  PRIMARY KEY (`id`)
);

CREATE TABLE `insert_relpace_into_test2` (
  `id` int(10),
  `uniq_id` varchar(32) DEFAULT NULL,
  `filed_a` varchar(32) DEFAULT '',
  `filed_b` varchar(32) DEFAULT '',
  `version` int(10) DEFAULT '0',
  PRIMARY KEY (`id`)
);
REPLACE INTO insert_relpace_into_test2 
VALUES
  ( 1,'1003', 'ziduan a', 'ziduan b', 1 ), 
  ( 2,'1005', 'ziduan _2_2', 'ziduan b_2', 1 );

REPLACE INTO insert_relpace_into_test 
VALUES
  ( 3,'1003', 'ziduan a', 'ziduan b', 1 ), 
  ( 4,'1005', 'ziduan _2_2', 'ziduan b_2', 1 );
	
REPLACE INTO insert_relpace_into_test ( id,uniq_id, filed_a, filed_b, version )
SELECT id,uniq_id, filed_a, filed_b, version FROM  insert_relpace_into_test2;

select * from insert_relpace_into_test;

REPLACE INTO insert_relpace_into_test 
SET id=5,uniq_id='1003',filed_a='ziduan _2_2',filed_b='ziduan b_2';

select * from insert_relpace_into_test;

REPLACE INTO insert_relpace_into_test 
VALUES
  ( 3,'1003new', 'ziduan a', 'ziduan b', 1 ), 
  ( 4,'1005new', 'ziduan _2_2', 'ziduan b_2', 1 );
  
select * from insert_relpace_into_test;
  
REPLACE INTO insert_relpace_into_test ( id,uniq_id, filed_a, filed_b, version )
SELECT id,uniq_id, filed_a, filed_b, version FROM  insert_relpace_into_test2;

REPLACE INTO insert_relpace_into_test 
SET id=5,uniq_id='1003new',filed_a='ziduan _2_2',filed_b='ziduan b_2';

select * from insert_relpace_into_test;

drop table insert_relpace_into_test;
drop table insert_relpace_into_test2;
drop table test;
drop table test1;

# clean up
DROP DATABASE replace_into_test;
"""

SCRIPT_CTAS1 = """--source include/have_tianmu.inc

--echo #
--echo # Test CREATE TABLE AS SELECT
--echo #

--disable_warnings
DROP DATABASE IF EXISTS ctas_test;
--enable_warnings

CREATE DATABASE ctas_test;
USE ctas_test;

CREATE TABLE `user` (
  `id` bigint(20) NOT NULL AUTO_INCREMENT COMMENT 'id',
  `user_name` varchar(200) DEFAULT '',
  `phone` varchar(200) DEFAULT '',
  `b_code` varchar(255) DEFAULT NULL,
  PRIMARY KEY (`id`)
)DEFAULT CHARSET=utf8;

INSERT INTO `user`(`user_name`, `phone`, `b_code`) VALUES ('李明', '101', '2021001');
INSERT INTO `user`(`user_name`, `phone`, `b_code`) VALUES ('赵慧', '456', '2020001');
INSERT INTO `user`(`user_name`, `phone`, `b_code`) VALUES ('李凯', '123', '2021002');
INSERT INTO `user`(`user_name`, `phone`, `b_code`) VALUES ('张三1', '123', '2022001');
INSERT INTO `user`(`user_name`, `phone`, `b_code`) VALUES ('张三2', '123', '2021003');

create table user1 as select * from user;
select * from user1;
desc user1;

create table user2 as select user_name, phone from user;
select * from user2;

create table user3 as select user_name, phone from user limit 2;
select * from user3;

create table user4 select user_name, phone from user limit 4;
select * from user4;

create table user5 as select * from user where b_code like '2021%';
select * from user5;
desc user5;

create table user6 like user;
select * from user6;
desc user6;

create table user7 like user;
insert into user7  select * from user;

CREATE TABLE user_bk4( id INT NOT NULL) ENGINE=InnoDB SELECT id,user_name FROM user;
select * from user_bk4;

CREATE TABLE user_bk5( id INT NOT NULL primary key)ENGINE=TIANMU SELECT id,user_name FROM user;
select * from user_bk5;

create table user_bk6 select id+1 as id1 from user;
select * from user_bk6;
desc user_bk6;

# create table as select join
DROP TABLE IF EXISTS `test_tbl`;
CREATE TABLE `test_tbl` (
  `test_id` int(11) NOT NULL AUTO_INCREMENT,
  `test_title` varchar(100) NOT NULL,
  `test_author` varchar(40) NOT NULL,
  `submission_date` date DEFAULT NULL,
  PRIMARY KEY (`test_id`)
) DEFAULT CHARSET=utf8;

INSERT INTO `test_tbl` 
VALUES 
('1', 'c++', 'test', '2017-04-12'), 
('2', 'MySQL', 'test', '2017-04-12'), 
('3', 'Java', 'test.COM', '2015-05-01'), 
('4', 'Python', 'test.COM', '2016-03-06'), 
('5', 'C', 'FK', '2017-04-05');


DROP TABLE IF EXISTS `tcount_tbl`;
CREATE TABLE `tcount_tbl` (
  `test_author` varchar(255) NOT NULL DEFAULT '',
  `test_count` int(11) NOT NULL DEFAULT '0'
) DEFAULT CHARSET=utf8;

INSERT INTO `tcount_tbl` 
VALUES 
('test','10'), 
('test.COM','20'), 
('Google', '22');

create table test_tbl1 SELECT test_id, submission_date FROM test_tbl a left JOIN tcount_tbl b ON a.test_author = b.test_author;
create table test_tbl2 SELECT a.test_id, a.test_author FROM test_tbl a right JOIN tcount_tbl b ON a.test_author = b.test_author;
create table test_tbl3 SELECT a.test_id, a.test_author, b.test_count FROM test_tbl a INNER JOIN tcount_tbl b ON a.test_author = b.test_author;
create table test_tbl4 as SELECT a.test_id, a.test_author, b.test_count FROM test_tbl a INNER JOIN tcount_tbl b ON a.test_author = b.test_author;
create table test_tbl5 select * from test_tbl natural join tcount_tbl;

# clean up
drop database ctas_test;
"""

SCRIPT_SELECT_JOINS = """--echo #
--echo # Test SELECT JOIN
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs_db4;
--enable_warnings

CREATE DATABASE mcs_db4;
USE mcs_db4;

#
# Test different join syntaxes
#

CREATE TABLE tbl1 (t1_col1 INT)ENGINE=tianmu;
CREATE TABLE tbl2 (t2_col1 INT)ENGINE=tianmu;
INSERT INTO tbl1 VALUES (1),(3),(5),(7),(9);
INSERT INTO tbl1 VALUES ();
INSERT INTO tbl2 VALUES (9),(11),(13),(15),(17),(19);
INSERT INTO tbl2 VALUES ();

SELECT t1.t1_col1,t2.t1_col1 FROM tbl1 t1 JOIN tbl1 t2 ON t1.t1_col1 = t2.t1_col1;
SELECT t1.t1_col1,t2.t1_col1 FROM tbl1 t1 LEFT JOIN tbl1 t2 ON t1.t1_col1 = t2.t1_col1;
SELECT t1.t1_col1,t2.t1_col1 FROM tbl1 t1 RIGHT JOIN tbl1 t2 ON t1.t1_col1 = t2.t1_col1;

# Test of join with many tables
SELECT t1.t1_col1 FROM tbl1 as t1 LEFT JOIN tbl1 AS t2 USING (t1_col1) LEFT JOIN tbl1 AS t3 USING (t1_col1) LEFT JOIN tbl1 AS t4 USING (t1_col1) LEFT JOIN tbl1 AS t5 USING (t1_col1) LEFT JOIN tbl1 AS t6 USING (t1_col1) LEFT JOIN tbl1 AS t7 USING (t1_col1) LEFT JOIN tbl1 AS t8 USING (t1_col1) LEFT JOIN tbl1 AS t9 USING (t1_col1) LEFT JOIN tbl1 AS t10 USING (t1_col1) LEFT JOIN tbl1 AS t11 USING (t1_col1) LEFT JOIN tbl1 AS t12 USING (t1_col1) LEFT JOIN tbl1 AS t13 USING (t1_col1) LEFT JOIN tbl1 AS t14 USING (t1_col1) LEFT JOIN tbl1 AS t15 USING (t1_col1) LEFT JOIN tbl1 AS t16 USING (t1_col1) LEFT JOIN tbl1 AS t17 USING (t1_col1) LEFT JOIN tbl1 AS t18 USING (t1_col1) LEFT JOIN tbl1 AS t19 USING (t1_col1) LEFT JOIN tbl1 AS t20 USING (t1_col1) LEFT JOIN tbl1 AS t21 USING (t1_col1) LEFT JOIN tbl1 AS t22 USING (t1_col1) LEFT JOIN tbl1 AS t23 USING (t1_col1) LEFT JOIN tbl1 AS t24 USING (t1_col1) LEFT JOIN tbl1 AS t25 USING (t1_col1) LEFT JOIN tbl1 AS t26 USING (t1_col1) LEFT JOIN tbl1 AS t27 USING (t1_col1) LEFT JOIN tbl1 AS t28 USING (t1_col1) LEFT JOIN tbl1 AS t29 USING (t1_col1) LEFT JOIN tbl1 AS t30 USING (t1_col1) LEFT JOIN tbl1 AS t31 USING (t1_col1) LEFT JOIN tbl1 AS t32 USING (t1_col1) LEFT JOIN tbl1 AS t33 USING (t1_col1) LEFT JOIN tbl1 AS t34 USING (t1_col1) LEFT JOIN tbl1 AS t35 USING (t1_col1) LEFT JOIN tbl1 AS t36 USING (t1_col1) LEFT JOIN tbl1 AS t37 USING (t1_col1) LEFT JOIN tbl1 AS t38 USING (t1_col1) LEFT JOIN tbl1 AS t39 USING (t1_col1) LEFT JOIN tbl1 AS t40 USING (t1_col1) LEFT JOIN tbl1 AS t41 USING (t1_col1) LEFT JOIN tbl1 AS t42 USING (t1_col1) LEFT JOIN tbl1 AS t43 USING (t1_col1) LEFT JOIN tbl1 AS t44 USING (t1_col1) LEFT JOIN tbl1 AS t45 USING (t1_col1) LEFT JOIN tbl1 AS t46 USING (t1_col1) LEFT JOIN tbl1 AS t47 USING (t1_col1) LEFT JOIN tbl1 AS t48 USING (t1_col1) LEFT JOIN tbl1 AS t49 USING (t1_col1) LEFT JOIN tbl1 AS t50 USING (t1_col1) LEFT JOIN tbl1 AS t51 USING (t1_col1) LEFT JOIN tbl1 AS t52 USING (t1_col1) LEFT JOIN tbl1 AS t53 USING (t1_col1) LEFT JOIN tbl1 AS t54 USING (t1_col1) LEFT JOIN tbl1 AS t55 USING (t1_col1) LEFT JOIN tbl1 AS t56 USING (t1_col1) LEFT JOIN tbl1 AS t57 USING (t1_col1) LEFT JOIN tbl1 AS t58 USING (t1_col1) LEFT JOIN tbl1 AS t59 USING (t1_col1) LEFT JOIN tbl1 AS t60 USING (t1_col1) LEFT JOIN tbl1 AS t61 USING (t1_col1);

# Maximum tables that can be used for join is 61
--error ER_TOO_MANY_TABLES
SELECT t1.t1_col1 FROM tbl1 as t1 LEFT JOIN tbl1 AS t2 USING (t1_col1) LEFT JOIN tbl1 AS t3 USING (t1_col1) LEFT JOIN tbl1 AS t4 USING (t1_col1) LEFT JOIN tbl1 AS t5 USING (t1_col1) LEFT JOIN tbl1 AS t6 USING (t1_col1) LEFT JOIN tbl1 AS t7 USING (t1_col1) LEFT JOIN tbl1 AS t8 USING (t1_col1) LEFT JOIN tbl1 AS t9 USING (t1_col1) LEFT JOIN tbl1 AS t10 USING (t1_col1) LEFT JOIN tbl1 AS t11 USING (t1_col1) LEFT JOIN tbl1 AS t12 USING (t1_col1) LEFT JOIN tbl1 AS t13 USING (t1_col1) LEFT JOIN tbl1 AS t14 USING (t1_col1) LEFT JOIN tbl1 AS t15 USING (t1_col1) LEFT JOIN tbl1 AS t16 USING (t1_col1) LEFT JOIN tbl1 AS t17 USING (t1_col1) LEFT JOIN tbl1 AS t18 USING (t1_col1) LEFT JOIN tbl1 AS t19 USING (t1_col1) LEFT JOIN tbl1 AS t20 USING (t1_col1) LEFT JOIN tbl1 AS t21 USING (t1_col1) LEFT JOIN tbl1 AS t22 USING (t1_col1) LEFT JOIN tbl1 AS t23 USING (t1_col1) LEFT JOIN tbl1 AS t24 USING (t1_col1) LEFT JOIN tbl1 AS t25 USING (t1_col1) LEFT JOIN tbl1 AS t26 USING (t1_col1) LEFT JOIN tbl1 AS t27 USING (t1_col1) LEFT JOIN tbl1 AS t28 USING (t1_col1) LEFT JOIN tbl1 AS t29 USING (t1_col1) LEFT JOIN tbl1 AS t30 USING (t1_col1) LEFT JOIN tbl1 AS t31 USING (t1_col1) LEFT JOIN tbl1 AS t32 USING (t1_col1) LEFT JOIN tbl1 AS t33 USING (t1_col1) LEFT JOIN tbl1 AS t34 USING (t1_col1) LEFT JOIN tbl1 AS t35 USING (t1_col1) LEFT JOIN tbl1 AS t36 USING (t1_col1) LEFT JOIN tbl1 AS t37 USING (t1_col1) LEFT JOIN tbl1 AS t38 USING (t1_col1) LEFT JOIN tbl1 AS t39 USING (t1_col1) LEFT JOIN tbl1 AS t40 USING (t1_col1) LEFT JOIN tbl1 AS t41 USING (t1_col1) LEFT JOIN tbl1 AS t42 USING (t1_col1) LEFT JOIN tbl1 AS t43 USING (t1_col1) LEFT JOIN tbl1 AS t44 USING (t1_col1) LEFT JOIN tbl1 AS t45 USING (t1_col1) LEFT JOIN tbl1 AS t46 USING (t1_col1) LEFT JOIN tbl1 AS t47 USING (t1_col1) LEFT JOIN tbl1 AS t48 USING (t1_col1) LEFT JOIN tbl1 AS t49 USING (t1_col1) LEFT JOIN tbl1 AS t50 USING (t1_col1) LEFT JOIN tbl1 AS t51 USING (t1_col1) LEFT JOIN tbl1 AS t52 USING (t1_col1) LEFT JOIN tbl1 AS t53 USING (t1_col1) LEFT JOIN tbl1 AS t54 USING (t1_col1) LEFT JOIN tbl1 AS t55 USING (t1_col1) LEFT JOIN tbl1 AS t56 USING (t1_col1) LEFT JOIN tbl1 AS t57 USING (t1_col1) LEFT JOIN tbl1 AS t58 USING (t1_col1) LEFT JOIN tbl1 AS t59 USING (t1_col1) LEFT JOIN tbl1 AS t60 USING (t1_col1) LEFT JOIN tbl1 AS t61 USING (t1_col1) LEFT JOIN tbl1 AS t62 USING (t1_col1);

SELECT t1.t1_col1,t2.t2_col1 FROM tbl1 t1 JOIN tbl2 t2 ON t1.t1_col1 = t2.t2_col1;
SELECT t1.t1_col1,t2.t2_col1 FROM tbl1 t1 LEFT JOIN tbl2 t2 ON t1.t1_col1 = t2.t2_col1;
SELECT t1.t1_col1,t2.t2_col1 FROM tbl1 t1 RIGHT JOIN tbl2 t2 ON t1.t1_col1 = t2.t2_col1;

# Clean UP
DROP DATABASE mcs_db4;
"""

SCRIPT_DELETE_SIGNED = """--source include/have_tianmu.inc

--echo #
--echo # DELETE decimal and DElETE WHERE
--echo #

--disable_warnings
DROP DATABASE IF EXISTS delete_signed_test;

CREATE DATABASE delete_signed_test;
USE delete_signed_test;

DROP PROCEDURE IF EXISTS signedinsertproc;
DROP PROCEDURE IF EXISTS signeddeleteproc;
--enable_warnings

DELIMITER //;

CREATE PROCEDURE signedinsertproc ()
 BEGIN
  INSERT INTO cs1 VALUES (125, 125);
  INSERT INTO cs1 VALUES (-125, -125);
  INSERT INTO cs1 values (99998, 998);
  INSERT INTO cs1 values (99999, 999);
  INSERT INTO cs1 values (-99998, -998);
  INSERT INTO cs1 values (-99999, -999);
  INSERT INTO cs1 VALUES (0, 0);
  INSERT INTO cs1 VALUES (NULL, NULL);

  INSERT INTO cs2 VALUES (1.25, 1.25);
  INSERT INTO cs2 VALUES (-1.25, -1.25);
  INSERT INTO cs2 values (99999.998, 99999.998);
  INSERT INTO cs2 values (99999.999, 99999.999);
  INSERT INTO cs2 values (-99999.998, -99999.998);
  INSERT INTO cs2 values (-99999.999, -99999.999);
  INSERT INTO cs2 VALUES (1.1234567891, 1.1234567891);
  INSERT INTO cs2 VALUES (1.999, 1.999);
  INSERT INTO cs2 VALUES (-1.1234567891, -1.1234567891);
  INSERT INTO cs2 VALUES (-1.999, -1.999);
  INSERT INTO cs2 VALUES (1.0000000009, 1.0000000009);
  INSERT INTO cs2 VALUES (-1.0000000009, -1.0000000009);
  INSERT INTO cs2 VALUES (0, 0);
  INSERT INTO cs2 VALUES (NULL, NULL);

  INSERT INTO cs3 VALUES (0.125, 0.125);
  INSERT INTO cs3 VALUES (-0.125, -0.125);
  INSERT INTO cs3 values (0.99998, 0.998);
  INSERT INTO cs3 values (0.99999, 0.999);
  INSERT INTO cs3 values (-0.99998, -0.998);
  INSERT INTO cs3 values (-0.99999, -0.999);
  INSERT INTO cs3 VALUES (0.12345, 0.1234);
  INSERT INTO cs3 VALUES (0.199999, 0.19999);
  INSERT INTO cs3 VALUES (-0.12345, -0.1234);
  INSERT INTO cs3 VALUES (-0.199999, -0.19999);
  INSERT INTO cs3 VALUES (0.000009, 0.00009);
  INSERT INTO cs3 VALUES (-0.000009, -0.00009);
  INSERT INTO cs3 VALUES (0, 0);
  INSERT INTO cs3 VALUES (NULL, NULL);
 END//


CREATE PROCEDURE signeddeleteproc ()
 BEGIN
  DELETE FROM cs1;
  DELETE FROM cs2;
  DELETE FROM cs3;
 END//


DELIMITER ;//

--disable_warnings
DROP TABLE IF EXISTS cs1;
DROP TABLE IF EXISTS cs2;
DROP TABLE IF EXISTS cs3;
# DROP TABLE IF EXISTS cs4;
# DROP TABLE IF EXISTS cs5;
# DROP TABLE IF EXISTS cs6;
--enable_warnings

CREATE TABLE cs1 (d1 DECIMAL(18), d2 DECIMAL(18)) ;
CREATE TABLE cs2 (d1 DECIMAL(18,10), d2 DECIMAL(18,10)) ;
CREATE TABLE cs3 (d1 DECIMAL(18,10), d2 DECIMAL(18,10)) ;
# CREATE TABLE cs4 (d1 DECIMAL(38) UNSIGNED, d2 DECIMAL(19) UNSIGNED) ;
# CREATE TABLE cs5 (d1 DECIMAL(38,10) UNSIGNED, d2 DECIMAL(19,10) UNSIGNED) ;
# CREATE TABLE cs6 (d1 DECIMAL(38,38) UNSIGNED, d2 DECIMAL(19,19) UNSIGNED) ;

CALL signedinsertproc();

# Full table delete
DELETE FROM cs1;
DELETE FROM cs2;
DELETE FROM cs3;
SELECT "signedtest1", d1, d2 FROM cs1;
SELECT "signedtest1", d1, d2 FROM cs2;
SELECT "signedtest1", d1, d2 FROM cs3;

# Deletes with WHERE clause
# Delete a single row with a constant value in WHERE clause
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1=-99998;
DELETE FROM cs1 WHERE d2=999;
DELETE FROM cs2 WHERE d1=-99999.998;
DELETE FROM cs2 WHERE d2=99999.999;
DELETE FROM cs3 WHERE d1=-0.99998;
DELETE FROM cs3 WHERE d2=0.999;
SELECT "signedtest2", d1, d2 FROM cs1;
SELECT "signedtest2", d1, d2 FROM cs2;
SELECT "signedtest2", d1, d2 FROM cs3;

# BUG #781 is similar to this question
# Delete multiple rows
# Deletes with multiple constant values in WHERE clause
# CALL signeddeleteproc();
# CALL signedinsertproc();
# DELETE FROM cs1 WHERE d1 in (-99998, 99999);
# DELETE FROM cs2 WHERE d1 in (-99999.998, 99999.999);
# DELETE FROM cs3 WHERE d1 in (-0.99998, 0.99999);
# SELECT "signedtest3", d1, d2 FROM cs1;
# SELECT "signedtest3", d1, d2 FROM cs2;
# SELECT "signedtest3", d1, d2 FROM cs3;


# Deletes with comparison operators in WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 <= -99998 OR d2 >= 998;
DELETE FROM cs2 WHERE d1 <= -99999.998 OR d2 >= 99999.998;
DELETE FROM cs3 WHERE d1 <= -0.99998 OR d2 >= 0.998;
SELECT "signedtest4a", d1, d2 FROM cs1;
SELECT "signedtest4a", d1, d2 FROM cs2;
SELECT "signedtest4a", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 < -99998 OR d2 > 998;
DELETE FROM cs2 WHERE d1 < -99999.998 OR d2 > 99999.998;
DELETE FROM cs3 WHERE d1 < -0.99998 OR d2 > 0.998;
SELECT "signedtest4", d1, d2 FROM cs1;
SELECT "signedtest4", d1, d2 FROM cs2;
SELECT "signedtest4", d1, d2 FROM cs3;

# Delete with NULL in the WHERE clause
DELETE FROM cs1 WHERE d1 is NULL;
DELETE FROM cs2 WHERE d1 is NULL;
DELETE FROM cs3 WHERE d1 is NULL;
SELECT "signedtest5", d1, d2 FROM cs1;
SELECT "signedtest5", d1, d2 FROM cs2;
SELECT "signedtest5", d1, d2 FROM cs3;

# Delete with != operator
DELETE FROM cs1 WHERE d1 != 125;
DELETE FROM cs2 WHERE d1 != 1.25;
DELETE FROM cs3 WHERE d1 != 0.125;
SELECT "signedtest6", d1, d2 FROM cs1;
SELECT "signedtest6", d1, d2 FROM cs2;
SELECT "signedtest6", d1, d2 FROM cs3;

# Delete with non-constant value in the WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 = d2;
DELETE FROM cs2 WHERE d1 = d2;
DELETE FROM cs3 WHERE d1 = d2;
SELECT "signedtest7", d1, d2 FROM cs1;
SELECT "signedtest7", d1, d2 FROM cs2;
SELECT "signedtest7", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 != d2;
DELETE FROM cs2 WHERE d1 != d2;
DELETE FROM cs3 WHERE d1 != d2;
SELECT "signedtest8", d1, d2 FROM cs1;
SELECT "signedtest8", d1, d2 FROM cs2;
SELECT "signedtest8", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 < d2;
DELETE FROM cs2 WHERE d1 < d2;
DELETE FROM cs3 WHERE d1 < d2;
SELECT "signedtest9", d1, d2 FROM cs1;
SELECT "signedtest9", d1, d2 FROM cs2;
SELECT "signedtest9", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
DELETE FROM cs1 WHERE d1 > d2;
DELETE FROM cs2 WHERE d1 > d2;
DELETE FROM cs3 WHERE d1 > d2;
SELECT "signedtest10", d1, d2 FROM cs1;
SELECT "signedtest10", d1, d2 FROM cs2;
SELECT "signedtest10", d1, d2 FROM cs3;

# Deletes with functions and expressions in the WHERE clause

# Repeat above tests for the unsigned case

# Deletes with functions and expressions in the WHERE clause

# Clean UP
DROP PROCEDURE IF EXISTS signedinsertproc;
DROP PROCEDURE IF EXISTS signeddeleteproc;
DROP DATABASE delete_signed_test;
"""

SCRIPT_UPDATE_SIGNED = """--source include/have_tianmu.inc

--echo #
--echo # UPDATE decimal and DElETE WHERE
--echo #

--disable_warnings
DROP DATABASE IF EXISTS update_signed_test;

CREATE DATABASE update_signed_test;
USE update_signed_test;

DROP PROCEDURE IF EXISTS signedinsertproc;
DROP PROCEDURE IF EXISTS signeddeleteproc;
# DROP PROCEDURE IF EXISTS unsignedinsertproc;
# DROP PROCEDURE IF EXISTS unsigneddeleteproc;
--enable_warnings

DELIMITER //;

CREATE PROCEDURE signedinsertproc ()
 BEGIN
  INSERT INTO cs1 VALUES (125, 125);
  INSERT INTO cs1 VALUES (-125, -125);
  INSERT INTO cs1 values (99998, 9998);
  INSERT INTO cs1 values (99999, 9999);
  INSERT INTO cs1 values (-99998, -9998);
  INSERT INTO cs1 values (-99999, -9999);
  INSERT INTO cs1 VALUES (0, 0);
  INSERT INTO cs1 VALUES (NULL, NULL);
  
  INSERT INTO cs2 VALUES (1.25, 1.25);
  INSERT INTO cs2 VALUES (-1.25, -1.25);
  INSERT INTO cs2 values (99999.99998, 99999.99998);
  INSERT INTO cs2 values (99999.99999, 99999.99999);
  INSERT INTO cs2 values (-99999.99998, -99999.99998);
  INSERT INTO cs2 values (-99999.99999, -99999.99999);
  INSERT INTO cs2 VALUES (1.1234567891, 1.1234567891);
  INSERT INTO cs2 VALUES (1.99999, 1.99999);
  INSERT INTO cs2 VALUES (-1.1234567891, -1.1234567891);
  INSERT INTO cs2 VALUES (-1.99999, -1.99999);
  INSERT INTO cs2 VALUES (1.0000000009, 1.0000000009);
  INSERT INTO cs2 VALUES (-1.0000000009, -1.0000000009);
  INSERT INTO cs2 VALUES (0, 0);
  INSERT INTO cs2 VALUES (NULL, NULL);
  
  INSERT INTO cs3 VALUES (0.125, 0.125);
  INSERT INTO cs3 VALUES (-0.125, -0.125);
  INSERT INTO cs3 values (0.99998, 0.9998);
  INSERT INTO cs3 values (0.99999, 0.9999);
  INSERT INTO cs3 values (-0.99998, -0.9998);
  INSERT INTO cs3 values (-0.99999, -0.9999);
  INSERT INTO cs3 VALUES (0.12345, 0.1234);
  INSERT INTO cs3 VALUES (0.19999, 0.1999);
  INSERT INTO cs3 VALUES (-0.12345, -0.1234);
  INSERT INTO cs3 VALUES (-0.19999, -0.1999);
  INSERT INTO cs3 VALUES (0.00009, 0.0009);
  INSERT INTO cs3 VALUES (-0.00009, -0.0009);
  INSERT INTO cs3 VALUES (0, 0);
  INSERT INTO cs3 VALUES (NULL, NULL);
 END//


CREATE PROCEDURE signeddeleteproc ()
 BEGIN
  DELETE FROM cs1;
  DELETE FROM cs2;
  DELETE FROM cs3;
 END//


DELIMITER ;//

DROP TABLE IF EXISTS cs1;
DROP TABLE IF EXISTS cs2;
DROP TABLE IF EXISTS cs3;
# DROP TABLE IF EXISTS cs4;
# DROP TABLE IF EXISTS cs5;
# DROP TABLE IF EXISTS cs6;

CREATE TABLE cs1 (d1 DECIMAL(18), d2 DECIMAL(18));
CREATE TABLE cs2 (d1 DECIMAL(18,10), d2 DECIMAL(18,10));
CREATE TABLE cs3 (d1 DECIMAL(18,10), d2 DECIMAL(18,10));
# CREATE TABLE cs4 (d1 DECIMAL(38) UNSIGNED, d2 DECIMAL(19) UNSIGNED);
# CREATE TABLE cs5 (d1 DECIMAL(38,10) UNSIGNED, d2 DECIMAL(19,10) UNSIGNED);
# CREATE TABLE cs6 (d1 DECIMAL(38,38) UNSIGNED, d2 DECIMAL(19,19) UNSIGNED);

CALL signedinsertproc();

# Updates with constant values without a WHERE clause
UPDATE cs1 SET d1=12345, d2=1234;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234;
UPDATE cs3 SET d1=0.12345, d2=0.1234;
SELECT "signedtest1", d1, d2 FROM cs1;
SELECT "signedtest1", d1, d2 FROM cs2;
SELECT "signedtest1", d1, d2 FROM cs3;

# Updates with WHERE clause
# Update a single row with a constant value in WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=0 WHERE d1=-99998;
UPDATE cs1 SET d1=0, d2=12345 WHERE d2=9999;
UPDATE cs2 SET d1=123456.90123, d2=0 WHERE d1=-99999.99998;
UPDATE cs2 SET d1=0, d2=12345.012345678 WHERE d2=99999.99999;
UPDATE cs3 SET d1=0.12345, d2=0 WHERE d1=-0.99998;
UPDATE cs3 SET d1=0, d2=0.12345 WHERE d2=0.9999;
SELECT "signedtest2", d1, d2 FROM cs1;
SELECT "signedtest2", d1, d2 FROM cs2;
SELECT "signedtest2", d1, d2 FROM cs3;

# Update multiple rows
# Updates with multiple constant values in WHERE clause
#CALL signeddeleteproc();
#CALL signedinsertproc();
#UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 in (-99998, 99999);
#UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 in (-99999.99998, 99999.99999);
#UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 in (-0.99998, 0.99999);
#SELECT "signedtest3", d1, d2 FROM cs1;
#SELECT "signedtest3", d1, d2 FROM cs2;
#SELECT "signedtest3", d1, d2 FROM cs3;

# Updates with comparison operators in WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 < -99998 OR d2 > 9998;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 < -99999.99998 OR d2 > 99999.99998;
UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 < -0.99998 OR d2 > 0.9998;
SELECT "signedtest4a", d1, d2 FROM cs1;
SELECT "signedtest4a", d1, d2 FROM cs2;
SELECT "signedtest4a", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 <= -99998 OR d2 >= 9998;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 <= -99999.99998 OR d2 >= 99999.99998;
UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 <= -0.99998 OR d2 >= 0.9998;
SELECT "signedtest4b", d1, d2 FROM cs1;
SELECT "signedtest4b", d1, d2 FROM cs2;
SELECT "signedtest4b", d1, d2 FROM cs3;

# Update with NULL in the WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 is NULL;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 is NULL;
UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 is NULL;
SELECT "signedtest5", d1, d2 FROM cs1;
SELECT "signedtest5", d1, d2 FROM cs2;
SELECT "signedtest5", d1, d2 FROM cs3;

# Update with != operator
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 != 125;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 != 1.25;
UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 != 0.125;
SELECT "signedtest6", d1, d2 FROM cs1;
SELECT "signedtest6", d1, d2 FROM cs2;
SELECT "signedtest6", d1, d2 FROM cs3;

# Update with non-constant value in the WHERE clause
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d2=d1 WHERE d1 = d2;
UPDATE cs2 SET d2=d1 WHERE d1 = d2;
UPDATE cs3 SET d2=d1 WHERE d1 = d2;
SELECT "signedtest7", d1, d2 FROM cs1;
SELECT "signedtest7", d1, d2 FROM cs2;
SELECT "signedtest7", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=d2 WHERE d1 != d2;
UPDATE cs2 SET d1=d2 WHERE d1 != d2;
UPDATE cs3 SET d1=d2 WHERE d1 != d2;
SELECT "signedtest8", d1, d2 FROM cs1;
SELECT "signedtest8", d1, d2 FROM cs2;
SELECT "signedtest8", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=12345, d2=1234 WHERE d1 < d2;
UPDATE cs2 SET d1=123456.90123, d2=12345.01234 WHERE d1 < d2;
UPDATE cs3 SET d1=0.12345, d2=0.1234 WHERE d1 < d2;
SELECT "signedtest9", d1, d2 FROM cs1;
SELECT "signedtest9", d1, d2 FROM cs2;
SELECT "signedtest9", d1, d2 FROM cs3;
CALL signeddeleteproc();
CALL signedinsertproc();
UPDATE cs1 SET d1=d2 WHERE d1 > d2;
UPDATE cs2 SET d1=d2 WHERE d1 > d2;
UPDATE cs3 SET d1=d2 WHERE d1 > d2;
SELECT "signedtest10", d1, d2 FROM cs1;
SELECT "signedtest10", d1, d2 FROM cs2;
SELECT "signedtest10", d1, d2 FROM cs3;

# Updates with functions and expressions in the WHERE clause


DROP PROCEDURE IF EXISTS signedinsertproc;
DROP PROCEDURE IF EXISTS signeddeleteproc;
DROP DATABASE update_signed_test;
"""

SCRIPT_SELECT_ORDER_GROUP = """--echo #
--echo # Test basic select...group by...order by
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs3_db1;
--enable_warnings

CREATE DATABASE mcs3_db1;
USE mcs3_db1;

CREATE TABLE t1 (
  spID int(10) ,
  userID int(10) ,
  score smallint(5) ,
  lsg char(40),
  date date
) ENGINE=tianmu;

INSERT INTO t1 VALUES (1,1,1,'','1900-01-01');
INSERT INTO t1 VALUES (2,2,2,'','1900-01-01');
INSERT INTO t1 VALUES (2,1,1,'','1900-01-01');
INSERT INTO t1 VALUES (3,3,3,'','1900-01-01');

CREATE TABLE t2 (
  userID int(10) NOT NULL,
  niName char(15),
  passwd char(8),
  mail char(50),
  isAukt char(1) DEFAULT 'N',
  vName char(30),
  nName char(40),
  adr char(60),
  plz char(5),
  ort char(35),
  land char(20)
) ENGINE=tianmu;

INSERT INTO t2 VALUES (1,'name','pass','mail','Y','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (2,'name','pass','mail','Y','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (3,'name','pass','mail','Y','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (4,'name','pass','mail','Y','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (5,'name','pass','mail','Y','v','n','adr','1','1','1');

SELECT t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY t2.userid;
 
SELECT t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY t2.userid ASC;
 
SELECT t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY t2.userid DESC;
 
SELECT t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY t2.userid LIMIT 2;
 
#Test multiple columns
SELECT t1.spID, t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid, t1.spID ORDER BY t2.userid, t1.spID;
SELECT t1.spID, t2.userid, MIN(t1.score) 
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid, t1.spID ORDER BY t1.spID, t2.userid;
 
# columns in ORDER BY clause not included in the GROUP BY clause.
#SELECT t1.spID, t2.userid, MIN(t1.score) 
 #FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid, t1.spID ORDER BY t1.date;

# non-existing column in group by clause
--error 1054
SELECT t2.userid, MIN(t1.score)
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY unknown ORDER BY t2.userid;
 
# non-existing column in order by clause
--error 1054
SELECT t2.userid, MIN(t1.score)
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY unknown;
 
# order by null
SELECT t2.userid, MIN(t1.score)
 FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY NULL;

#Clean up
DROP DATABASE IF EXISTS mcs3_db1;
"""

SCRIPT_COMPOSITE_PK = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS composite_primary_key_test;
--enable_warnings

CREATE DATABASE composite_primary_key_test;

USE composite_primary_key_test;

--disable_warnings

## DDL
create table ttt(id int,c1 varchar(10),c2 varchar(10),primary key(id,c1)) ENGINE=TIANMU;

## insert data
insert into ttt values(1,'xxx','xxx');

insert into ttt values(1,'','xxx');
--error ER_DUP_ENTRY
insert into ttt values(1,'','xxx');


select * from ttt;
## clean test table
DROP DATABASE composite_primary_key_test;
"""

SCRIPT_FUNC_MATH = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS func_math_test;
--enable_warnings

CREATE DATABASE func_math_test;

USE func_math_test;

create table t1
(f1 varchar(32) not null,
f2 smallint(5) unsigned not null,
f3 int(10) unsigned not null default '0')
engine=tianmu default charset=utf8;
insert into t1 values ('zombie',0,0),('gold',1,10000),('silver',2,10000);
create table t2
(f1 int(10) unsigned not null,
f2 int(10) unsigned not null,
f3 smallint(5) unsigned not null)
engine=tianmu default charset=utf8;
insert into t2 values (16777216,16787215,1),(33554432,33564431,2);
select format(t2.f2-t2.f1+1,0) from t1,t2
where t1.f2 = t2.f3 order by t1.f1;
drop table t1, t2;
create table t1(a int unsigned) engine=tianmu default charset=utf8;
insert into t1 values (11);
select cast(-2 as unsigned), 18446744073709551614, -2 from t1;
select abs(cast(-2 as unsigned)), abs(18446744073709551614), abs(-2) from t1;
# for mysql, ceiling(18446744073709551614) is ok, but in tianmu, decimal overflow, need cast(...)
--error 1105
select ceiling(18446744073709551614) from t1;
select ceiling(cast(-2 as unsigned)), ceiling(-2) from t1;
--error 1105
select floor(18446744073709551614) from t1;
select floor(cast(-2 as unsigned)), floor(-2) from t1;
select format(cast(-2 as unsigned), 2), format(18446744073709551614, 2), format(-2, 2) from t1;
select sqrt(cast(-2 as unsigned)), sqrt(18446744073709551614), sqrt(-2) from t1;
select round(cast(-2 as unsigned), 1), round(18446744073709551614, 1), round(-2, 1) from t1;
select round(4, cast(-2 as unsigned)), round(4, 18446744073709551614), round(4, -2) from t1;
select truncate(cast(-2 as unsigned), 1), truncate(18446744073709551614, 1), truncate(-2, 1) from t1;
select truncate(4, cast(-2 as unsigned)), truncate(4, 18446744073709551614), truncate(4, -2) from t1;
select mod(cast(-2 as unsigned), 3), mod(18446744073709551614, 3), mod(-2, 3) from t1;
select mod(5, cast(-2 as unsigned)), mod(5, 18446744073709551614), mod(5, -2) from t1;
select pow(cast(-2 as unsigned), 5), pow(18446744073709551614, 5), pow(-2, 5) from t1;
--error 1690
SELECT 1e308 + 1e308 from t1;
--error 1690
SELECT -1e308 - 1e308 from t1;
--error 1690
SELECT 1e300 * 1e300 from t1;
--error 1690
SELECT 1e300 / 1e-300 from t1;
--error 1690
SELECT EXP(750) from t1;
--error 1690
SELECT POW(10, 309) from t1;
#
# Bug#57477 SIGFPE when dividing a huge number a negative number
#
--error 1690
SELECT -9999999999999999991 DIV -1 from t1;
--error 1690
SELECT -9223372036854775808 DIV -1 from t1;
SELECT -9223372036854775808 MOD -1 from t1;
SELECT -9223372036854775808999 MOD -1 from t1;
--error 1690
select 123456789012345678901234567890.123456789012345678901234567890 div 1 as x from t1;
--error 1690
select "123456789012345678901234567890.123456789012345678901234567890" div 1 as x from t1;
SHOW WARNINGS;
#
# Bug #8433: Overflow must be an error
#
--error 1690
SELECT 1e308 + 1e308 from t1;
--error 1690
SELECT -1e308 - 1e308 from t1;
--error 1690
SELECT 1e300 * 1e300 from t1;
--error 1690
SELECT 1e300 / 1e-300 from t1;
--error 1690
SELECT EXP(750) from t1;
--error 1690
SELECT POW(10, 309) from t1;
--error 1690
SELECT COT(0) from t1;
--error 1690
SELECT DEGREES(1e307) from t1;
--error 1690
SELECT 9223372036854775808 + 9223372036854775808 from t1;
--error 1690
SELECT 18446744073709551615 + 1 from t1;
--error 1690
SELECT 1 + 18446744073709551615 from t1;
--error 1690
SELECT -2 + CAST(1 AS UNSIGNED) from t1;
--error 1690
SELECT CAST(1 AS UNSIGNED) + -2 from t1;
--error 1690
SELECT -9223372036854775808 + -9223372036854775808 from t1;
--error 1690
SELECT 9223372036854775807 + 9223372036854775807 from t1;
--error 1690
SELECT CAST(0 AS UNSIGNED) - 9223372036854775809 from t1;
--error 1690
SELECT 9223372036854775808 - 9223372036854775809 from t1;
--error 1690
SELECT CAST(1 AS UNSIGNED) - 2 from t1;
--error 1690
SELECT 18446744073709551615 - (-1) from t1;
--error 1690
SELECT -1 - 9223372036854775808 from t1;
--error 1690
SELECT -1 - CAST(1 AS UNSIGNED) from t1;
--error 1690
SELECT -9223372036854775808 - 1 from t1;
--error 1690
SELECT 9223372036854775807 - -9223372036854775808 from t1;
set SQL_MODE='NO_UNSIGNED_SUBTRACTION';
--error 1690
SELECT 18446744073709551615 - 1 from t1;
--error 1690
SELECT 18446744073709551615 - CAST(1 AS UNSIGNED) from t1;
--error 1690
SELECT 18446744073709551614 - (-1) from t1;
--error 1690
SELECT 9223372036854775807 - -1 from t1;
set SQL_MODE=default;
--error 1690
SELECT 4294967296 * 4294967296 from t1;
--error 1690
SELECT 9223372036854775808 * 2 from t1;
--error 1690
SELECT 9223372036854775808 * 2 from t1;
--error 1690
SELECT 7158278827 * 3221225472 from t1;
--error 1690
SELECT 9223372036854775807 * (-2) from t1;
--error 1690
SELECT CAST(1 as UNSIGNED) * (-1) from t1;
--error 1690
SELECT 9223372036854775807 * 2 from t1;
--error 1690
SELECT ABS(-9223372036854775808) from t1;
--error 1690
SELECT -9223372036854775808 DIV -1 from t1;
--error 1690
SELECT 18446744073709551615 DIV -1 from t1;
SET @a:=999999999999999999999999999999999999999999999999999999999999999999999999999999999;
--error 1690
SELECT @a + @a from t1;
--error 1690
SELECT @a * @a from t1;
--error 1690
SELECT -@a - @a from t1;
--error 1690
SELECT @a / 0.5 from t1;
# next is design by tianmu team
drop table if exists t1, t2;
create table t1(a tinyint zerofill, b int) engine=tianmu;
insert into t1 values (11, 22); 
--error 1690
select a-b from t1;
--error 1690
select cast((a-b) as unsigned) from t1;
create table t2(a tinyint unsigned, b int) engine=tianmu;
insert into t2 values (1, 22);
--error 1690
select a-b from t1;
--error 1690
select cast((a-b) as unsigned) from t2;
drop table t1, t2;

DROP DATABASE func_math_test;
"""

SCRIPT_INSERT_FULL = """--source include/have_tianmu.inc

--echo #
--echo #Insert values for different types of fields
--echo #
--disable_warnings
DROP DATABASE IF EXISTS insert_test;
--enable_warnings

CREATE DATABASE insert_test;
USE insert_test;
CREATE TABLE `column_type_test` (
 `c_tinyint` tinyint(4) DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint(6) DEFAULT NULL COMMENT 'smallint',
  `c_mediumint` mediumint(9) DEFAULT NULL COMMENT 'mediumint',
  `c_int` int(11) DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint(20) DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU;

insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(100,100,100,100,100,5.2,10.88,100.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(101,101,101,101,101,5.2,10.88,101.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(102,102,102,102,102,5.2,10.88,102.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(103,103,103,103,103,5.2,10.88,103.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(104,104,104,104,104,5.2,10.88,104.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');

select * from column_type_test;
drop table column_type_test;


--echo #
--echo # Test of refering to old values
--echo #

--disable_warnings
drop table if exists t1,t2,t3;
--enable_warnings
SET sql_mode = 'NO_ENGINE_SUBSTITUTION';
create table t1 (a int not null);
insert into t1 values (1);
insert into t1 values (a+2);
insert into t1 values (a+3),(a+4);
insert into t1 values (5),(a+6);
select * from t1;
drop table t1;

--echo #
--echo # Test of duplicate key values with packed keys
--echo #

create table t1 (id int not null auto_increment primary key, username varchar(32) not null);
insert into t1 values (0,"mysql");
insert into t1 values (0,"mysql ab");
insert into t1 values (0,"mysql a");
insert into t1 values (0,"r1manic");
insert into t1 values (0,"r1man");
drop table t1;

--echo #
--echo # Test insert syntax
--echo #

create table t1 (a int not null auto_increment,
 primary key (a),
 t timestamp NOT NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP,
 c char(10) default "hello", i int)engine=tianmu;
insert into t1 values (default,default,default,default), (default,default,default,default), (4,0,"a",5),(default,default,default,default);
select a,t>0,c,i from t1;

truncate table t1;
insert into t1 set a=default,t=default,c=default;
insert into t1 set a=default,t=default,c=default,i=default;
insert into t1 set a=4,t=0,c="a",i=5;
insert into t1 set a=5,t=0,c="a",i=null;
insert into t1 set a=default,t=default,c=default,i=default;
select a,t>0,c,i from t1;
drop table t1;

--echo #
--echo #Test of behaviour with INSERT VALUES (NULL)
--echo #

create table t1 (id int NOT NULL DEFAULT 8);
-- error 1048
insert into t1 values(NULL);
insert into t1 values (1), (NULL), (2);
select * from t1;
drop table t1;

--echo #
--echo # Test of mysqld crash with fully qualified column names
--echo #

--disable_warnings
drop database if exists mysqltest;
--enable_warnings
create database mysqltest_insert_test;
use mysqltest_insert_test;
create table t1 (c int);
insert into mysqltest_insert_test.t1 set mysqltest_insert_test.t1.c = '1';
drop database mysqltest_insert_test;

use insert_test;

--echo #
--echo # Test of wrong values for float data 
--echo #

# PS gives sligthly different numbers for max-float/max-double
--disable_ps_protocol
create table t1(
 number int auto_increment primary key,
 original_value varchar(50),
 f_double double,
 f_float float,
 f_double_7_2 double(7,2),
 f_float_4_3 float (4,3),
 f_double_u double,
 f_float_u float,
 f_double_15_1_u double(15,1),
 f_float_3_1_u float (3,1));

set @value= "aa";
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= "1aa";
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= "aa1";
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= "1e+1111111111a";
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= "-1e+1111111111a";
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

--error 1367
set @value= 1e+1111111111;
--error 1367
set @value= -1e+1111111111;

set @value= 1e+111;
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= -1e+111;
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= 1;
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

set @value= -1;
insert into t1 values(null,@value,@value,@value,@value,@value,@value,@value,@value,@value);
--query_vertical select * from t1 where number =last_insert_id()

drop table t1;
--enable_ps_protocol


--echo #
--echo # Test automatic result buffering with INSERT INTO t1 ... SELECT ... FROM t1
--echo #

create table t1(id1 int not null auto_increment primary key, t char(12));
create table t2(id2 int not null, t char(12));
create table t3(id3 int not null, t char(12));
disable_query_log;
let $1 = 100;
while ($1)
 {
  let $2 = 5;
  eval insert into t1(t) values ('$1'); 
  while ($2)
   {
     eval insert into t2(id2,t) values ($1,'$2'); 
     let $3 = 10;
     while ($3)
     {
       eval insert into t3(id3,t) values ($1,'$2'); 
       dec $3;
     }
     dec $2; 
   }
  dec $1;
 }
enable_query_log;
select count(*) from t2;
insert into  t2 select t1.* from t1, t2 t, t3 where  t1.id1 = t.id2 and t.id2 = t3.id3;
select count(*) from t2;
drop table t1,t2,t3;

--echo #
--echo # Test different cases of duplicate fields
--echo #

create table t1 (a int, b int);
insert into t1 (a,b) values (a,b);
insert into t1 SET a=1, b=a+1;
insert into t1 (a,b) select 1,2;
INSERT INTO t1 ( a ) SELECT 0 ON DUPLICATE KEY UPDATE a = a + VALUES (a);
--error 1110
prepare stmt1 from ' replace into t1 (a,a) select 100, ''hundred'' ';
--error 1110
insert into t1 (a,b,b) values (1,1,1);
--error 1136
insert into t1 (a,a) values (1,1,1);
--error 1110
insert into t1 (a,a) values (1,1);
--error 1110
insert into t1 SET a=1,b=2,a=1;
--error 1110
insert into t1 (b,b) select 1,2;
--error 1110
INSERT INTO t1 (b,b) SELECT 0,0 ON DUPLICATE KEY UPDATE a = a + VALUES (a);
drop table t1;

--echo #
--echo # Test for values returned by ROW_COUNT() function
--echo # (and thus for values returned by mysql_affected_rows())
--echo # for various forms of INSERT
--echo #

create table t1 (id int primary key, data int);
insert into t1 values (1, 1), (2, 2), (3, 3);
select row_count();
insert ignore into t1 values (1, 1);
#insert ignore gives warnings which resets the row_count.
#'select row_count()' will not show the row_count from above statement.
select row_count();
# Reports that 2 rows are affected. This conforms to documentation.
# (Useful for differentiating inserts from updates).
insert into t1 values (2, 2) on duplicate key update data= data + 10;
select row_count();
insert into t1 values (5, 5) on duplicate key update data= data + 10;
select row_count();
drop table t1;

--echo #
--echo # ON DUPLICATE KEY clause allows fields not from the insert table
--echo #

create table t1 (f1 int primary key, f2 int);
create table t2 (f3 int, f4 int);
create view v1 as select * from t1, t2 where f1= f3;
insert into t1 values (1,11), (2,22);
insert into t2 values (1,12), (2,24);
--error 1393
insert into v1 (f1) values (3) on duplicate key update f3= f3 + 10;
--error 1393
insert into v1 (f1) values (3) on duplicate key update f1= f3 + 10;
select * from t1;
--error 1393
insert into v1 (f1) values (3) on duplicate key update f1= f3 + 10;
select * from t1;
drop view v1;
drop table t1,t2;

--echo #
--echo # mysqld (debug) aborts when inserting specific numbers into char fields
--echo #

CREATE TABLE t1 (
  a char(20) NOT NULL,
  b char(7) DEFAULT NULL,
  c char(4) DEFAULT NULL
);

INSERT INTO t1(a,b,c) VALUES (9.999999e+0, 9.999999e+0, 9.999e+0);
INSERT INTO t1(a,b) VALUES (1.225e-04, 1.225e-04);
INSERT INTO t1(a,b) VALUES (1.225e-01, 1.225e-01);
INSERT INTO t1(a,b) VALUES (1.225877e-01, 1.225877e-01);
INSERT INTO t1(a,b) VALUES (1.225e+01, 1.225e+01);
INSERT INTO t1(a,b,c) VALUES (1.225e+01, 1.225e+01, 1.225e+01);
INSERT INTO t1(a,b) VALUES (1.225e+05, 1.225e+05);
INSERT INTO t1(a,b) VALUES (1.225e+10, 1.225e+10);
INSERT INTO t1(a,b) VALUES (1.225e+15, 1.225e+15);
INSERT INTO t1(a,b) VALUES (5000000e+0, 5000000e+0);
INSERT INTO t1(a,b) VALUES (1.25e+78, 1.25e+78);
INSERT INTO t1(a,b) VALUES (1.25e-94, 1.25e-94);
INSERT INTO t1(a,b) VALUES (1.25e+203, 1.25e+203);
INSERT INTO t1(a,b) VALUES (1.25e-175, 1.25e-175);
INSERT INTO t1(a,c) VALUES (1.225e+0, 1.225e+0);
INSERT INTO t1(a,c) VALUES (1.37e+0, 1.37e+0);
INSERT INTO t1(a,c) VALUES (-1.37e+0, -1.37e+0);
INSERT INTO t1(a,c) VALUES (1.87e-3, 1.87e-3);
INSERT INTO t1(a,c) VALUES (-1.87e-2, -1.87e-2);
INSERT INTO t1(a,c) VALUES (5000e+0, 5000e+0);
INSERT INTO t1(a,c) VALUES (-5000e+0, -5000e+0);
SELECT * FROM t1;
DROP TABLE t1;


CREATE TABLE t1 (
  a char(20) NOT NULL,
  b char(7) DEFAULT NULL,
  c char(5)
);
INSERT INTO t1(a,b,c) VALUES (9.999999e+0, 9.999999e+0, 9.999e+0);
INSERT INTO t1(a,b,c) VALUES (1.225e-05, 1.225e-05, 1.225e-05);
INSERT INTO t1(a,b) VALUES (1.225e-04, 1.225e-04);
INSERT INTO t1(a,b) VALUES (1.225e-01, 1.225e-01);
INSERT INTO t1(a,b) VALUES (1.225877e-01, 1.225877e-01);
INSERT INTO t1(a,b) VALUES (1.225e+01, 1.225e+01);
INSERT INTO t1(a,b,c) VALUES (1.225e+01, 1.225e+01, 1.225e+01);
INSERT INTO t1(a,b) VALUES (1.225e+05, 1.225e+05);
INSERT INTO t1(a,b) VALUES (1.225e+10, 1.225e+10);
INSERT INTO t1(a,b) VALUES (1.225e+15, 1.225e+15);
INSERT INTO t1(a,b) VALUES (5000000e+0, 5000000e+0);
INSERT INTO t1(a,b) VALUES (1.25e+78, 1.25e+78);
INSERT INTO t1(a,b) VALUES (1.25e-94, 1.25e-94);
INSERT INTO t1(a,b) VALUES (1.25e+203, 1.25e+203);
INSERT INTO t1(a,b) VALUES (1.25e-175, 1.25e-175);
INSERT INTO t1(a,c) VALUES (1.225e+0, 1.225e+0);
INSERT INTO t1(a,c) VALUES (1.37e+0, 1.37e+0);
INSERT INTO t1(a,c) VALUES (-1.37e+0, -1.37e+0);
INSERT INTO t1(a,c) VALUES (1.87e-3, 1.87e-3);
INSERT INTO t1(a,c) VALUES (-1.87e-2, -1.87e-2);
INSERT INTO t1(a,c) VALUES (5000e+0, 5000e+0);
INSERT INTO t1(a,c) VALUES (-5000e+0, -5000e+0);

SELECT * FROM t1;
DROP TABLE t1;

SET sql_mode = default;
--echo #
--echo # assertion in Field_str::store(double)
--echo #

CREATE TABLE t (a CHAR(10),b INT);
INSERT INTO t VALUES (),(),();
INSERT INTO t(a) SELECT rand() FROM t;
DROP TABLE t;

--echo #
--echo # String not cast to int correctly
--echo #

CREATE TABLE t2 (c1 BIGINT);
INSERT INTO t2 VALUES('15449237462.0000000000');
SELECT * FROM t2;
drop table t2;

--echo #
--echo #Simple INSERT crashes the server
--echo #
CREATE TABLE t1(f1 FLOAT);
INSERT INTO t1 VALUES (1.23);
CREATE TABLE t2(f1 CHAR(1));
INSERT INTO t2 SELECT f1 FROM t1;
DROP TABLE t1, t2;

--echo #
--echo # Bug#34898 "mysql_info() reports 0 warnings while
--echo # mysql_warning_count() reports 1"
--echo # Check that the number of warnings reported by
--echo # mysql_info() is correct.
--echo #

--disable_warnings
drop table if exists t1;
--enable_warnings

create table t1 (data varchar(4) not null);

--echo #
--echo # Demonstrate that the number of warnings matches
--echo # the information in mysql_info().
--echo #
--enable_info
insert ignore t1 (data) values ('letter'), (1/0);
update ignore t1 set data='envelope' where 1/0 or 1;
insert ignore t1 (data) values (default), (1/0), ('dead beef');
--disable_info

drop table t1;

--echo #
--echo # Bug#54106 assert in Protocol::end_statement,
--echo #           INSERT IGNORE ... SELECT ... UNION SELECT ...
--echo #

--disable_warnings
DROP TABLE IF EXISTS t1;
--enable_warnings

CREATE TABLE t1 (a INT);

--error ER_FIELD_SPECIFIED_TWICE
INSERT INTO t1 (a, a) VALUES (1, 1);
# Verify that ER_FIELD_SPECIFIED_TWICE is not ignorable
--error ER_FIELD_SPECIFIED_TWICE
INSERT IGNORE t1 (a, a) VALUES (1, 1);

--error ER_FIELD_SPECIFIED_TWICE
INSERT IGNORE t1 (a, a) SELECT 1,1;
# Used to cause an assert
--error ER_FIELD_SPECIFIED_TWICE
INSERT IGNORE t1 (a, a) SELECT 1,1 UNION SELECT 2,2;

DROP TABLE t1;

--echo #
--echo # ASSERTION `TRANSL->ITEM->FIXED' FAILED
--echo # IN SELECT_LEX::DELETE_UNUSED_MERGED_COLUMN
--echo #

CREATE TABLE t1 ( pk INT, PRIMARY KEY (pk))engine=tianmu;
CREATE TABLE t2 LIKE t1;

INSERT INTO t1 VALUES (2);
INSERT INTO t2 VALUES (2);

CREATE VIEW v1 AS SELECT * FROM t2 AS a
                  WHERE a.pk IN ( SELECT pk FROM t1 AS b WHERE b.pk = a.pk );

CREATE VIEW v2 AS SELECT * FROM t1 AS a
                  WHERE a.pk IN ( SELECT pk FROM v1 AS b WHERE b.pk = a.pk );

PREPARE st1 FROM 'INSERT INTO v2 (pk) VALUES ( 1 )';
EXECUTE st1;

SELECT * FROM t1;
SELECT * FROM t2;

DROP TABLE t1, t2;
DROP VIEW v1, v2;

--echo #
--echo # ASSERTION !(WANT_PRIVILEGE & ~(GRANT->WANT_PRIVILEGE | GRANT->PRIVILEGE))'
--echo #

CREATE TABLE t1 (pk INT, PRIMARY KEY (pk));
INSERT INTO t1 VALUES (1);

CREATE ALGORITHM = TEMPTABLE VIEW v2 AS
   SELECT * FROM t1 AS a NATURAL JOIN t1 b WHERE pk BETWEEN 1 AND 2;

CREATE ALGORITHM = UNDEFINED VIEW v1 AS
   SELECT * FROM t1 AS a
   WHERE a.pk IN ( SELECT pk FROM v2 AS b WHERE b.pk = a.pk );

PREPARE st1 FROM "INSERT INTO v1 (pk) VALUES (2)";
EXECUTE st1;

SELECT * FROM t1;

DROP VIEW v1, v2;
DROP TABLE t1;
# Clean UP
DROP DATABASE insert_test;
"""

SCRIPT_ALTER_TABLE_SHOW = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS alter_table_test;
--enable_warnings

CREATE DATABASE alter_table_test;

USE alter_table_test;

#
#ALTER TABLE table_name MODIFY ...
#
--disable_warnings
DROP TABLE IF EXISTS t_test;
--enable_warnings

CREATE TABLE `t_test` (
  `id` int(11) NOT NULL AUTO_INCREMENT,
  `first_name` varchar(10),
  `last_name` varchar(10),
  `sex` varchar(5),
  `score` int(11),
  `copy_id` int(11),
  PRIMARY KEY (`id`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8;

#
#ALTER TABLE: COLUMN TYPE
#

alter table t_test modify sex char(5);

show create table t_test;

#
#ALTER TABLE: COLUMN LENGTH
#

alter table t_test modify first_name varchar(20);

show create table t_test;

alter table t_test modify first_name varchar(5);

show create table t_test;

#
#CLOSE STRICT MODE
#

set sql_mode="NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION";

alter table t_test modify first_name char(20);

show create table t_test;

alter table t_test modify first_name char(5);

show create table t_test;

alter table t_test modify sex smallint(5);

show create table t_test;

#
#END
#

drop table t_test;
DROP DATABASE alter_table_test;
"""

SCRIPT_ALTER_NULL = """--source include/have_tianmu.inc

#
#ALTER TABLE table_name NOT NULL to NULL or NULL to NOT NULL ...
#
create database alter_table_null;
use alter_table_null;

CREATE TABLE `alter_table_null_test` (
  `c_tinyint` tinyint DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint NOT NULL COMMENT 'smallint',
  `c_mediumint` mediumint DEFAULT NULL COMMENT 'mediumint',
  `c_int` int DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;

#
#ALTER TABLE: NOT NULL to NULL 
#

show create table alter_table_null_test;

alter table alter_table_null_test modify c_smallint smallint NULL;

show create table alter_table_null_test;

insert into alter_table_null_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn');

show create table alter_table_null_test;

#
#ALTER TABLE: NULL to NOT NULL 
#

show create table alter_table_null_test;

alter table alter_table_null_test modify c_tinyint tinyint NOT NULL;

show create table alter_table_null_test;

insert into alter_table_null_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn');

show create table alter_table_null_test;

drop table alter_table_null_test;
drop database alter_table_null;
"""

SCRIPT_ALTER_MIX = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS alter_table_mix_use_test;
--enable_warnings

CREATE DATABASE alter_table_mix_use_test;

USE alter_table_mix_use_test;

#
#ALTER TABLE table_name NOT NULL to NULL or NULL to NOT NULL ...
#

CREATE TABLE `alter_table_mix_test` (
  `c_tinyint` tinyint DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint NOT NULL COMMENT 'smallint',
  `c_mediumint` mediumint DEFAULT NULL COMMENT 'mediumint',
  `c_int` int DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;

#
#ALTER TABLE: RENAME TABLE and ADD COLUMN
#

show create table alter_table_mix_test;

insert into alter_table_mix_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn');

alter table alter_table_mix_test rename alter_table_rename_add, add c_add char(10);

show create table alter_table_rename_add;

insert into alter_table_rename_add(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text, c_add)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn', 'add');

show create table alter_table_rename_add;

#
#ALTER TABLE: RENAME TABLE and DROP COLUMN
#

CREATE TABLE `alter_table_mix_test` (
  `c_tinyint` tinyint DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint NOT NULL COMMENT 'smallint',
  `c_mediumint` mediumint DEFAULT NULL COMMENT 'mediumint',
  `c_int` int DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;

show create table alter_table_mix_test;

insert into alter_table_mix_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn');

alter table alter_table_mix_test rename alter_table_rename_drop, drop c_longblob;

show create table alter_table_rename_drop;

insert into alter_table_rename_drop(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(105,105,105,105,105,5.2,10.88,105.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom1','hello1','bcdefghijklmn');

show create table alter_table_rename_drop;

DROP DATABASE alter_table_mix_use_test;
"""

SCRIPT_ALTER_NEGATIVE = """--source include/have_tianmu.inc

--echo #
--echo # Test ALTER TABLE in various negative scenarios.
--echo #

--disable_warnings
DROP DATABASE IF EXISTS alter_table_negative;
DROP DATABASE IF EXISTS alter_table_negative1;
--enable_warnings

CREATE DATABASE alter_table_negative;
CREATE DATABASE alter_table_negative1;
USE alter_table_negative;

# Change ENGINE
CREATE TABLE t1 (a INTEGER, c1 CHAR(10));
INSERT INTO t1 VALUES (1, 'a'),(2, 'b');
--error 1064
ALTER TABLE t1 ENGINE=;
--error 1286
ALTER TABLE t1 ENGINE=Invalid;
--error 1286
ALTER TABLE t1 ENGINE='#!~@$%^&*()_+-,.*`~';
SHOW CREATE TABLE t1;

# Rename
--disable_warnings
DROP TABLE IF EXISTS nonexisting;
--enable_warnings
--error 1146
ALTER TABLE nonexisting RENAME t2;

# Add column
--error 1064
ALTER TABLE t1 ADD COLUMN (c2 INVALIDDATATYPE);

# Drop column
--error 1091
ALTER TABLE t1 DROP COLUMN c2;

# Modify column
--error 1054
ALTER TABLE t1 CHANGE c2 c2 INTEGER;
--error 1064
ALTER TABLE t1 CHANGE c1 c2 INVALIDDATATYPE;

DROP DATABASE alter_table_negative;
"""

SCRIPT_ALTER_V1 = """--source include/have_tianmu.inc

--echo #
--echo # Test of alter table
--echo #

--disable_warnings
DROP DATABASE IF EXISTS alter_table_v1_test;
--enable_warnings

CREATE DATABASE alter_table_v1_test;
USE alter_table_v1_test;


create table t1 (bandID MEDIUMINT NOT NULL PRIMARY KEY, payoutID SMALLINT NOT NULL);
insert into t1 (bandID,payoutID) VALUES (1,6),(2,6),(3,4),(4,9),(5,10),(6,1),(7,12),(8,12);
alter table t1 add column new_col int, order by payoutid,bandid;
select * from t1;
alter table t1 order by bandid,payoutid;
select * from t1;
drop table t1;

--echo #
--echo # Test of ALTER TABLE ... ORDER BY
--echo #

create table t1 (n int);
insert into t1 values(9),(3),(12),(10);
alter table t1 order by n;
select * from t1;
drop table t1;

--echo #
--echo # Drop and add an auto_increment column
--echo #

create table t1 (i int not null auto_increment primary key);
insert into t1 values (null),(null),(null),(null);
#alter table t1 drop i,add i int unsigned not null auto_increment, drop primary key, add primary key (i);
select * from t1;
drop table t1;
"""

SCRIPT_ISSUE1263 = r"""--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1263_test;
--enable_warnings

CREATE DATABASE issue1263_test;

USE issue1263_test;

--echo #
--echo # load data exceeding  65553 rows with duplicate key
--echo #
CREATE TABLE AD_PINSTANCE_LOG_P(ID bigint, PRIMARY KEY (ID)) ENGINE=tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1263-1.txt' into table AD_PINSTANCE_LOG_P
FIELDS TERMINATED BY ',' 
ENCLOSED BY '"' 
LINES TERMINATED BY '\n'
(@ID)
set
ID=NULLif(@ID,'')
;

select count(*) from AD_PINSTANCE_LOG_P;

--echo #
--echo # load data exceeding  65553 rows with limit lines clause
--echo #
CREATE TABLE AD_PINSTANCE_LOG(ID bigint) ENGINE=tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1263-1.txt' into table AD_PINSTANCE_LOG
FIELDS TERMINATED BY ',' 
ENCLOSED BY '"' 
LINES TERMINATED BY '\n'
IGNORE 30 LINES
(@ID)
set
ID=NULLif(@ID,'')
;

select count(*) from AD_PINSTANCE_LOG;

--echo #
--echo # load data whose columns contains double enclosed char
--echo #
CREATE TABLE AD_PINSTANCE_LOG_DOUBLE_ENCLOSED(ID bigint ,
    AD_CLIENT_ID bigint, 
    AD_ORG_ID bigint, 
    AD_PINSTANCE_ID bigint, 
    P_DATE DATETIME DEFAULT null, 
    P_MSG VARCHAR(255), 
    OWNERID bigint, 
    MODIFIERID bigint, 
    CREATIONDATE DATETIME, 
    MODIFIEDDATE DATETIME, 
    ISACTIVE CHAR(1) DEFAULT 'Y' NOT NULL, 
    PRIMARY KEY (ID)) engine=tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1263-2.txt' into table AD_PINSTANCE_LOG_DOUBLE_ENCLOSED
FIELDS TERMINATED BY ',' 
ENCLOSED BY '"' 
LINES TERMINATED BY '\n'
(
@ID,
@AD_CLIENT_ID,
@AD_ORG_ID,
@AD_PINSTANCE_ID,
@P_DATE,
@P_MSG,
@OWNERID,
@MODIFIERID,
@CREATIONDATE,
@MODIFIEDDATE,
@ISACTIVE
)
set
ID=NULLif(@ID,''),
AD_CLIENT_ID=NULLif(@AD_CLIENT_ID,''),
AD_ORG_ID=NULLif(@AD_ORG_ID,''),
AD_PINSTANCE_ID=NULLif(@AD_PINSTANCE_ID,''),
P_DATE=NULLif(@P_DATE,''),
P_MSG=NULLif(@P_MSG,''),
OWNERID=NULLif(@OWNERID,''),
MODIFIERID=NULLif(@MODIFIERID,''),
CREATIONDATE=NULLif(@CREATIONDATE,''),
MODIFIEDDATE=NULLif(@MODIFIEDDATE,''),
ISACTIVE=NULLif(@ISACTIVE,'')
;
select * from AD_PINSTANCE_LOG_DOUBLE_ENCLOSED;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
--error 1261
eval load data infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1263-3.txt' into table AD_PINSTANCE_LOG_DOUBLE_ENCLOSED
FIELDS TERMINATED BY ',' 
ENCLOSED BY '"' 
LINES TERMINATED BY '\n'
(
@ID,
@AD_CLIENT_ID,
@AD_ORG_ID,
@AD_PINSTANCE_ID,
@P_DATE,
@P_MSG,
@OWNERID,
@MODIFIERID,
@CREATIONDATE,
@MODIFIEDDATE,
@ISACTIVE
)
set
ID=NULLif(@ID,''),
AD_CLIENT_ID=NULLif(@AD_CLIENT_ID,''),
AD_ORG_ID=NULLif(@AD_ORG_ID,''),
AD_PINSTANCE_ID=NULLif(@AD_PINSTANCE_ID,''),
P_DATE=NULLif(@P_DATE,''),
P_MSG=NULLif(@P_MSG,''),
OWNERID=NULLif(@OWNERID,''),
MODIFIERID=NULLif(@MODIFIERID,''),
CREATIONDATE=NULLif(@CREATIONDATE,''),
MODIFIEDDATE=NULLif(@MODIFIEDDATE,''),
ISACTIVE=NULLif(@ISACTIVE,'')
;

select * from AD_PINSTANCE_LOG_DOUBLE_ENCLOSED;

DROP DATABASE issue1263_test;
"""

SCRIPT_ISSUE880 = r"""--source include/have_tianmu.inc
--disable_warnings
DROP DATABASE IF EXISTS issue880_db;
--enable_warnings

CREATE DATABASE issue880_db;
USE issue880_db;
--disable_warnings

--echo # support (timestamp union timestamp)
--echo # support (not timestamp union not timestamp)
--echo # support (timestamp union varchar)
--echo # support (varchar union timestamp)
--echo # support (timestamp union datetime)
--echo # support (datetime union timestamp)
--echo # not support (timestamp union other type)
--echo # not support (other type union timestamp)
--echo # SELECT timestamp_type/other_type FROM tablename union SELECT timestamp_type/other_type FROM tablename

--disable_warnings
DROP DATABASE IF EXISTS test_timestamp_union;
--enable_warnings

CREATE DATABASE test_timestamp_union;
USE test_timestamp_union;

CREATE TABLE `issue880_t1` (
  `id` int(11) NOT NULL COMMENT '主键; Size[MB]: 0.1; Ratio: 1.00',
  `company_account_id` int(11) DEFAULT NULL COMMENT 'tb_finance_company_account表主键; Size[MB]: 0.1; Ratio: 2.06',
  `period_account_id` int(11) DEFAULT NULL COMMENT '核账ID; Size[MB]: 0.1; Ratio: 1.78',
  `COMPANY_ID` int(10) DEFAULT NULL COMMENT '公司id; Size[MB]: 0.1; Ratio: 1.78',
  `BALANCE` decimal(10,2) DEFAULT NULL COMMENT '变动的余额; Size[MB]: 0.1; Ratio: 2.78',
  `before_balance` decimal(10,2) DEFAULT NULL COMMENT '变动前的余额; Size[MB]: 0.1; Ratio: 2.78',
  `after_balance` decimal(10,2) DEFAULT NULL COMMENT '变动后的余额; Size[MB]: 0.1; Ratio: 2.78',
  `create_time` timestamp NULL DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.39\0 ',
  `update_time` datetime DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.39\0 ',
  `type` smallint(2) DEFAULT NULL COMMENT '交易类型（1线下核帐成功、2易宝代付成功,3易宝代付失败,4,每天抽佣,5每月抽佣,6每季度抽佣,7每年抽佣,8易宝手续费,9在线充值,10在线退款,11Saas产品购买,13补贴结算,14政府补贴到账,15运营商专项补贴 ,17余额冲正）; Size[MB]: 0.1; Ratio: 2.12',
  `order_sn` varchar(100) DEFAULT NULL COMMENT '余额明细的订单编号; Size[MB]: 0.6; Ratio: 0.79',
  `third_sn` varchar(45) DEFAULT NULL COMMENT '第三方流水号; Size[MB]: 0.1; Ratio: 0.00',
  `commission_period` smallint(1) DEFAULT NULL COMMENT '抽佣周期. T+1  1, 按月结算 2, 按季度结算 3, 按年结算 4; Size[MB]: 0.1; Ratio: 1.62',
  `detail_period_time` varchar(45) DEFAULT NULL COMMENT ' T+1:(2018-10-12)  , 按月结算:(1-12) , 按季度结算:(1,2,3,4), 按年结算(2018); Size[MB]: 0.1; Ratio: 0.00',
  `period_pay_id` int(11) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 1.78\0 ',
  `operator_time` datetime DEFAULT NULL COMMENT '操作时间; Size[MB]: 0.2; Ratio: 2.30',
  `operator` varchar(50) DEFAULT NULL COMMENT '操作人; Size[MB]: 0.1; Ratio: 0.02',
  `operator_id` int(11) DEFAULT NULL COMMENT '操作人id; Size[MB]: 0.1; Ratio: 1.78',
  `remark` varchar(50) DEFAULT NULL COMMENT '备注; Size[MB]: 0.1; Ratio: 0.02',
  PRIMARY KEY (`id`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8 ROW_FORMAT=COMPRESSED;


CREATE TABLE `issue880_t2` (
  `id` int(10) NOT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.00\0 ',
  `company_id` int(10) DEFAULT NULL COMMENT '公司ID; Size[MB]: 0.1; Ratio: 2.06',
  `company_name` varchar(250) DEFAULT NULL COMMENT '公司名称; Size[MB]: 0.5; Ratio: 0.77',
  `product_id` int(1) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 1.77\0 ',
  `product_name` varchar(60) DEFAULT NULL COMMENT 'Size[MB]: 0.4; Ratio: 0.72\0 ',
  `pay_type` smallint(1) NOT NULL DEFAULT '2' COMMENT '支付方式(1:支出，2:收入); Size[MB]: 0.1; Ratio: 2.00',
  `pay_account` varchar(45) DEFAULT NULL COMMENT '支付账户; Size[MB]: 0.5; Ratio: 0.73',
  `bank_code` varchar(10) DEFAULT NULL COMMENT '银行编号; Size[MB]: 0.2; Ratio: 0.39',
  `poundage_mode` smallint(1) DEFAULT NULL COMMENT '''手续费方式(运营商支付：1,平台支付:2)''; Size[MB]: 0.1; Ratio: 1.60',
  `commission_period` smallint(1) NOT NULL COMMENT '''抽佣周期. T+1  1, 按月结算 2, 按季度结算 3, 按年结算 4'',运营商专项补贴5，订阅结算6，每日结算抽佣7，每月结算抽佣8; Size[MB]: 0.1; Ratio: 2.00',
  `create_time` timestamp NULL DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.30\0 ',
  `update_time` timestamp NULL DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.39\0 ',
  `maid_type` smallint(1) DEFAULT NULL COMMENT '抽佣类型(1:平台抽佣，2：承担手续费); Size[MB]: 0.1; Ratio: 0.91',
  `guarantee_amount` decimal(10,2) DEFAULT '0.00' COMMENT '保底金额; Size[MB]: 0.1; Ratio: 2.57',
  `guarantee_extra_amount` decimal(10,4) DEFAULT '0.0000' COMMENT '额外支付金额; Size[MB]: 0.1; Ratio: 2.57',
  `period_account_money` decimal(10,2) DEFAULT '0.00' COMMENT '分账结果; Size[MB]: 0.1; Ratio: 2.57',
  `fee` decimal(10,2) DEFAULT NULL COMMENT '手续费; Size[MB]: 0.1; Ratio: 8.39',
  `fee_type` varchar(10) DEFAULT NULL COMMENT '手续费类型; Size[MB]: 0.1; Ratio: 0.02',
  `poundage_money` decimal(10,4) DEFAULT NULL COMMENT '手续费; Size[MB]: 0.1; Ratio: 2.57',
  `sum_expense` decimal(10,2) DEFAULT NULL COMMENT '总金额; Size[MB]: 0.1; Ratio: 2.57',
  `sum_electric_charge` decimal(10,3) DEFAULT NULL COMMENT '总电量; Size[MB]: 0.1; Ratio: 2.57',
  `sum_service_charge` decimal(10,2) DEFAULT NULL COMMENT '总服务费; Size[MB]: 0.1; Ratio: 2.57',
  `sum_earning_money` decimal(10,4) DEFAULT NULL COMMENT '总抽佣钱; Size[MB]: 0.1; Ratio: 2.57',
  `begin_data_time` date DEFAULT NULL COMMENT '分账开始日期; Size[MB]: 0.1; Ratio: 1.22',
  `end_data_time` date DEFAULT NULL COMMENT '分账结束日期; Size[MB]: 0.1; Ratio: 1.22',
  `pay_status` smallint(1) DEFAULT '0' COMMENT '支付状态(0:未支付，1:支付调用，2：支付成功,3:支付失败); Size[MB]: 0.1; Ratio: 1.06',
  `fail_msg` varchar(250) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 0.02\0 ',
  `batch_no` varchar(30) DEFAULT NULL COMMENT '批次号; Size[MB]: 0.5; Ratio: 0.75',
  `order_no` varchar(30) DEFAULT NULL COMMENT '订单号; Size[MB]: 0.6; Ratio: 0.79',
  `period_operator` varchar(40) DEFAULT NULL COMMENT '核账确认用户; Size[MB]: 0.1; Ratio: 0.03',
  `period_time` datetime DEFAULT NULL COMMENT '核账时间; Size[MB]: 0.1; Ratio: 2.30',
  `period_status` smallint(1) DEFAULT '0' COMMENT '线下核账状态，(0:未核账，1:已核账); Size[MB]: 0.1; Ratio: 1.60',
  `out_sum_charge` decimal(10,3) DEFAULT '0.000' COMMENT '对外总电量; Size[MB]: 0.1; Ratio: 2.57',
  `out_sum_earning_money` decimal(10,4) DEFAULT '0.0000' COMMENT '对外总抽佣; Size[MB]: 0.1; Ratio: 2.78',
  `out_sum_money` decimal(10,4) DEFAULT '0.0000' COMMENT '对外总金额; Size[MB]: 0.1; Ratio: 2.78',
  `in_sum_charge` decimal(10,3) DEFAULT '0.000' COMMENT '对内总电量; Size[MB]: 0.1; Ratio: 2.78',
  `in_sum_earning_money` decimal(10,4) DEFAULT '0.0000' COMMENT '对内总抽佣; Size[MB]: 0.1; Ratio: 2.78',
  `in_sum_money` decimal(10,4) DEFAULT '0.0000' COMMENT '对内总金额; Size[MB]: 0.1; Ratio: 2.78',
  `period_pay_id` int(10) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 1.77\0 ',
  `order_source` varchar(255) DEFAULT NULL COMMENT '订单来源，多个以逗号分隔; Size[MB]: 0.1; Ratio: 0.02',
  `sum_subsidy_monetary` decimal(10,2) DEFAULT '0.00' COMMENT '总补贴金额; Size[MB]: 0.1; Ratio: 8.39',
  `subscribe_number` varchar(5000) DEFAULT NULL COMMENT '订阅编号; Size[MB]: 0.1; Ratio: 0.04',
  `settlement_status` smallint(1) DEFAULT '1' COMMENT '是否需要结算0不需要，1需要; Size[MB]: 0.1; Ratio: 1.60',
  `company_type` smallint(1) DEFAULT '1' COMMENT '公司类型(1:运营商,2:合作伙伴); Size[MB]: 0.1; Ratio: 2.12',
  PRIMARY KEY (`id`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8 ROW_FORMAT=COMPRESSED;

CREATE TABLE `issue880_t3` (
  `id` int(10) NOT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.00\0 ',
  `company_id` int(10) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.06\0 ',
  `company_name` varchar(40) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 0.20\0 ',
  `poundage_mode` smallint(1) DEFAULT NULL COMMENT '支付方式(1:支出，2:收入); Size[MB]: 0.1; Ratio: 2.12',
  `money` decimal(10,2) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 2.78\0 ',
  `pay_status` smallint(1) DEFAULT NULL COMMENT '支付状态(0:未支付，1:支付调用，2：支付成功,3:支付失败); Size[MB]: 0.1; Ratio: 2.12',
  `fail_msg` varchar(250) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 0.02\0 ',
  `batch_no` varchar(30) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 0.12\0 ',
  `fee` decimal(10,2) DEFAULT NULL COMMENT '手续费; Size[MB]: 0.1; Ratio: 0.76',
  `fee_type` varchar(10) DEFAULT NULL COMMENT '手续费类型; Size[MB]: 0.1; Ratio: 0.05',
  `order_no` varchar(30) DEFAULT NULL COMMENT 'Size[MB]: 0.1; Ratio: 0.15\0 ',
  `create_time` timestamp NULL DEFAULT CURRENT_TIMESTAMP COMMENT 'Size[MB]: 0.1; Ratio: 2.39\0 ',
  `success_time` datetime DEFAULT NULL COMMENT '成功时间; Size[MB]: 0.1; Ratio: 1.30',
  `source` smallint(1) DEFAULT '0' COMMENT '代付订单来源：0抽佣结算，1政府补贴; Size[MB]: 0.1; Ratio: 0.24',
  `period_account_id` int(11) DEFAULT NULL COMMENT '分账ID; Size[MB]: 0.1; Ratio: 0.48',
  `account_number` varchar(20) DEFAULT NULL COMMENT '交易银行账户; Size[MB]: 0.1; Ratio: 0.04',
  `pay_flag` smallint(1) DEFAULT '0' COMMENT '是否需要支付，0需要，1不需要; Size[MB]: 0.1; Ratio: 0.24',
  `union_order_flag` smallint(1) DEFAULT '0' COMMENT '是否合成订单0不是，1是; Size[MB]: 0.1; Ratio: 2.12',
  PRIMARY KEY (`id`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8 ROW_FORMAT=COMPRESSED;

--disable_warnings
# load data issue880_t1
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue880_t1.txt' INTO TABLE issue880_t1 FIELDS TERMINATED BY ';';

#  load data issue880_t3
--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval LOAD DATA LOCAL INFILE '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue880_t3.txt' INTO TABLE issue880_t3 FIELDS TERMINATED BY ';';

#  load data issue880_t2

# test timestamp union timestamp
select b.create_time AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.create_time AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# test not timestamp union not timestamp
select b.update_time AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.period_time AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# test timestamp union datetime
select b.CREATE_TIME AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.period_time AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# test datetime union timestamp
select b.update_time AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.create_time AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# test varchar union timestamp
select b.order_sn AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.create_time AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# test timestamp union varchar
select b.create_time AS create_time
from (issue880_t3 a join issue880_t1 b)
where ((a.id = b.period_pay_id) and (a.pay_status = 2) and
(a.fee_type = 'TARGET') and (b.type = 2))
union
select a.product_name AS create_time
from (issue880_t2 a join issue880_t1 b)
where ((a.id = b.period_account_id) and (b.type = 1) and (a.pay_type = 1) and
(a.period_status = 1));

# clean up
DROP DATABASE test_timestamp_union;
# Clean UP
DROP DATABASE issue880_db;
"""

SCRIPT_ISSUE405 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue405_test;
--enable_warnings

CREATE DATABASE issue405_test;

USE issue405_test;

create table timehi (val time) ENGINE=TIANMU;
insert into timehi values ('00:00:00'), ('01:15:39'), ('09:11:12'), ('20:30:29');
select * from timehi where val >= '08:02:45';
drop table timehi;

DROP DATABASE issue405_test;
"""

SCRIPT_ISSUE417 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue417_test;
--enable_warnings

CREATE DATABASE issue417_test;

USE issue417_test;

create table ttime (val time) ENGINE=TIANMU;
insert into ttime values ('12:15:03'), ('18:30:20');
select (val between '12:00:00' and '12:30:00') as agval from ttime;
drop table ttime;

DROP DATABASE issue417_test;
"""

SCRIPT_ISSUE430 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue430_test;
--enable_warnings

CREATE DATABASE issue430_test;

USE issue430_test;

create table tt2 (a tinyint(4), b smallint(6), c bigint(20)) ENGINE=TIANMU;
insert into tt2 values (15, 20, 18), (1, 6, 4);
select (a/b)/c as agf from tt2 group by agf;
drop table tt2;

DROP DATABASE issue430_test;
"""

SCRIPT_ISSUE433 = """use test;
create table tt(val int) ENGINE=TIANMU;
insert into tt values (12);
select * from tt where null in (null);
select * from tt where null not in (null);
select * from tt where 42 in (null);
select * from tt where 42 not in (null);
select * from tt where null in (select * from tt where val > 42);
select * from tt where null not in (select * from tt where val > 42);
select * from tt where 42 in (select * from tt where val > 42);
select * from tt where 42 not in (select * from tt where val > 42);
select * from tt where 42 in (select null from tt where val > 42);
select * from tt where 42 not in (select null from tt where val > 42);
select * from tt where 42 in (select !null from tt where val > 42);
select * from tt where 42 not in (select !null from tt where val > 42);
drop table tt;
"""

SCRIPT_ISSUE467 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue467_test;
--enable_warnings

CREATE DATABASE issue467_test;

USE issue467_test;

create table tt (date_test date) ENGINE=TIANMU;
insert into tt values ('2010-02-22');
select * from tt where (date_test<='2003-04-05')AND (date_test>='2011-06-22')OR  (date_test<='2012-12-13' );
drop table tt;

DROP DATABASE issue467_test;
"""

SCRIPT_ISSUE736 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue736_test;
--enable_warnings

CREATE DATABASE issue736_test;

USE issue736_test;

CREATE TABLE t1(col1 INT, col2 CHAR(5))ENGINE=tianmu;
INSERT INTO t1 VALUES(NULL,''),(1,'a'),(1,'b'),(1,'c'),(2,'dd'),(3,'eee');
INSERT INTO t1 VALUES(8,UNHEX('CEB2'));
SELECT COUNT(DISTINCT col2) FROM t1;
SELECT COUNT(DISTINCT col1) FROM t1;
DROP TABLE t1;	

DROP DATABASE issue736_test;
"""

SCRIPT_ISSUE496 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue496_test;
--enable_warnings

CREATE DATABASE issue496_test;

USE issue496_test;

create table t1 (id int, name varchar(10) comment "LOOKUP") ENGINE=TIANMU;
insert into t1 values (1, 'one');
insert into t1 values (2, 'one');
insert into t1 values (3, 'one');
insert into t1 values (4, 'one');
update t1 set name='two' where id=2;
select * from t1;
drop table t1;

DROP DATABASE issue496_test;
"""

SCRIPT_ISSUE1625 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1625_test;
--enable_warnings

create database issue1625_test;
use issue1625_test;

CREATE TABLE t_latin1(
a CHAR(20) CHARACTER SET latin1,
b VARCHAR(20) CHARACTER SET latin1,
c TEXT(20) CHARACTER SET latin1
)engine=tianmu;

INSERT INTO t_latin1 values(x'f242', x'f242', x'f242');

select * from t_latin1 where a=x'f242';

DROP TABLE t_latin1;
drop database issue1625_test;"""

SCRIPT_ISSUE281 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue281_test;
--enable_warnings

CREATE DATABASE issue281_test;

USE issue281_test;

--disable_warnings

DROP TABLE IF EXISTS t1;
CREATE TABLE t1 (f1 INT) ENGINE=TIANMU;
INSERT INTO t1 VALUES(1),(2),(NULL),(NULL);
SELECT * FROM t1 WHERE f1 IS NULL;
SELECT * FROM t1 WHERE f1 IS NOT NULL;
SELECT * FROM t1;
DROP TABLE t1;

DROP DATABASE issue281_test;
"""

SCRIPT_ISSUE1363 = """--source include/have_tianmu.inc

--disable_warnings

DROP DATABASE IF EXISTS issue1363_test;
CREATE DATABASE issue1363_test;

USE issue1363_test;

create table t1 (a bigint unsigned not null, primary key(a));
#issue 1363
insert into t1 values (9223372036854775806);
select * from t1;
#issue 1369
INSERT INTO t1 VALUES(1234),(97716021308405775),(97716021308405770),(97716021308405780);
select * from t1;
#issue 1362
insert into t1 values (0xFFFFFFFFFFFFFF);
select * from t1;
drop table t1;

DROP DATABASE issue1363_test;
"""

SCRIPT_ISSUE1385 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1385_test;
--enable_warnings

CREATE DATABASE issue1385_test;

USE issue1385_test;

create table ttt(name text);

insert into ttt values('XXXXX');
insert into ttt values('yyyyy');

select * from (select concat(ifnull(name,'')) as c1 from ttt) as x where x.c1 like '%XXXX%';
select * from (select ifnull(name,'') as c1 from ttt) as x where x.c1 like '%XXXX%';
select * from (select concat(name,'') as c1 from ttt) as x where x.c1 like '%XXXX%';

drop table ttt;

DROP DATABASE issue1385_test;
"""

SCRIPT_ISSUE502 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue502_test;
--enable_warnings

CREATE DATABASE issue502_test;

USE issue502_test;

CREATE TABLE `auto_20` (
    `pk` bigint(11) NOT NULL AUTO_INCREMENT,
    `varchar_test` varchar(255) DEFAULT NULL,
    PRIMARY KEY (`pk`)
) ENGINE=TIANMU DEFAULT CHARSET=gbk;
insert into auto_20(varchar_test) values('changsha');
insert into auto_20(varchar_test) values('aaaa');
insert into auto_20(varchar_test) values('bbb');
select * from auto_20;
drop table auto_20;

DROP DATABASE issue502_test;
"""

SCRIPT_ISSUE1510 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1510_test;
--enable_warnings

CREATE DATABASE issue1510_test;

USE issue1510_test;

create table ttt(id int primary key,name varchar(10));
begin;
insert into ttt values(1,'AAA');
commit;
select * from ttt;
drop table ttt;

create table ttt(id int primary key,name varchar(10));
insert into ttt values(1,'AAA');
select * from ttt;
drop table ttt;

DROP DATABASE issue1510_test;
"""

SCRIPT_ISSUE441 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue441_test;
--enable_warnings

CREATE DATABASE issue441_test;

USE issue441_test;

CREATE TEMPORARY TABLE `t_test1`(
`id` INT NOT NULL AUTO_INCREMENT,
`first_name` VARCHAR(10) NOT NULL,
`last_name` VARCHAR(10) NOT NULL,
`sex` VARCHAR(5) NOT NULL,
`score` INT NOT NULL,
`copy_id` INT NOT NULL,
PRIMARY KEY (`id`)
) ENGINE=tianmu;
INSERT INTO t_test1 values(1,'张','三','1',100,1);
SELECT id FROM t_test1;
DROP TABLE t_test1;

DROP DATABASE issue441_test;
"""

SCRIPT_ISSUE1564 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1564;
--enable_warnings
create database issue1564;
use issue1564;

create table t(a bigint not null);
insert into t values(-222222), (-22), (-15),(-16),(0), (11), (12), (9223372036854775807);
select * from t;
select * from t where a = 18446744073709551601;
select * from t where a != 18446744073709551601;
select * from t where a = -22;
select * from t where a != -22;
select * from t where a in(-16, -15, -11);
select * from t where a > 18446744073709551599;
select * from t where a >= 18446744073709551599;
select * from t where a < 18446744073709551599;
select * from t where a <= 18446744073709551599;
select * from t where a between -22 and 18446744073709551599;
select * from t where a between -22 and 9223372036854775807;
select * from t where a between -222222 and 9223372036854775807;
select * from t where a between 9223372036854775807 and -22;

drop table t;
drop database issue1564;
"""

SCRIPT_ISSUE515 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue515_test;
--enable_warnings

CREATE DATABASE issue515_test;

USE issue515_test;

create table timetest (val timestamp) ENGINE=TIANMU;
insert into timetest values ('2010-02-22 18:35:23');
select val not between '2010-02-22 18:35:23' and '2015-11-23 08:02:45' from (select * from timetest) as A;
select val, val >= '2010-02-22 18:35:23' from (select * from timetest) as A;
drop table timetest;

DROP DATABASE issue515_test;
"""

SCRIPT_ISSUE1070 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1070_test;
--enable_warnings

CREATE DATABASE issue1070_test;

USE issue1070_test;

create table t_issue1070(id int,name varchar(5)) engine=tianmu DEFAULT CHARSET=utf8mb4;
insert into t_issue1070 values(1,x'E5BCA0E4B889'),(2,x'E69D8EE59B9B');
show create table t_issue1070;
select hex(name) from t_issue1070;
alter table t_issue1070 convert to character set gbk;
select hex(name) from t_issue1070;
alter table t_issue1070 convert to character set utf8mb4;
select hex(name) from t_issue1070;
drop table t_issue1070;

DROP DATABASE issue1070_test;
"""

SCRIPT_ISSUE431 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue431_test;
--enable_warnings

CREATE DATABASE issue431_test;

USE issue431_test;

create table tt(a int, b int) ENGINE=TIANMU;
insert into tt values (3, 4);
select * from tt where (a >= 3) AND (b = 5 AND a > 2 OR 0);
drop table tt;

DROP DATABASE issue431_test;
"""

SCRIPT_ISSUE469 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue469_test;
--enable_warnings

CREATE DATABASE issue469_test;

USE issue469_test;

create table tt (v1 int, v2 int, v3 int) ENGINE=TIANMU;
insert into tt values (20, 30, 40);
select * from tt where (v1 = 20) OR ((v1 <=> 80) OR (v2 = 70) AND (v3 = 60)) AND (1);
drop table tt;

DROP DATABASE issue469_test;
"""

SCRIPT_ISSUE468 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue468_test;
--enable_warnings

CREATE DATABASE issue468_test;

USE issue468_test;

create table tt (e1 int, e2 int, e3 int, e4 int, e5 int, e6 int, e7 int, e8 int, e9 int) ENGINE=TIANMU;
insert into tt values (1,1,1,0,0,0,0,1,0);
select * from tt where (e1 AND ((e2 AND e3 AND (e4 OR e5)) OR e6) OR (e7 AND e8 AND e9));
select * from tt where (e1 AND ((e2 AND e3 AND (e4 OR e5)) OR 0) OR (e7 AND e8 AND e9));
drop table tt;

DROP DATABASE issue468_test;
"""

SCRIPT_ISSUE1942 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1942_test_db;
--enable_warnings
CREATE DATABASE issue1942_test_db;
USE issue1942_test_db;

CREATE TABLE t0(c0 INT);
SELECT * FROM t0 WHERE (t0.c0 IS NULL); 
SELECT SUM(count) FROM (SELECT (t0.c0 IS NULL) IS TRUE  as count FROM t0) as res;
SELECT SUM(count) FROM (SELECT CAST((t0.c0 IS NULL) AS UNSIGNED)  as count FROM t0) as res;

INSERT INTO t0 VALUES (NULL), (1);
SELECT * FROM t0 WHERE (t0.c0 IS NULL); 
SELECT SUM(count) FROM (SELECT (t0.c0 IS NULL) IS TRUE  as count FROM t0) as res;
SELECT SUM(count) FROM (SELECT CAST((t0.c0 IS NULL) AS UNSIGNED)  as count FROM t0) as res;

DROP DATABASE issue1942_test_db;
"""

SCRIPT_ISSUE446 = """use test;
create table tt (val double) ENGINE=TIANMU;
insert into tt values (1.2345);
select 1 from (select * from tt) as A join tt where A.val > 1 XOR tt.val > 2;
drop table tt;
"""

SCRIPT_ISSUE1361 = """--source include/have_tianmu.inc

--echo #
--echo # Test issue1361 bigint range
--echo #

--disable_warnings
DROP DATABASE IF EXISTS issue1361_test;
--enable_warnings

CREATE DATABASE issue1361_test;

USE issue1361_test;

CREATE TABLE int8_tbl(q1 int8, q2 int8);

--error 1264
INSERT INTO int8_tbl VALUES ('-9223372036854775805','-9223372036854775808');

--error 1264
INSERT INTO int8_tbl VALUES ('-9223372036854775805','-9223372036854775807');

# ok
INSERT INTO int8_tbl VALUES ('-9223372036854775805','-9223372036854775806');

# 1 row
SELECT * from int8_tbl;

DROP DATABASE issue1361_test;"""

SCRIPT_ISSUE1708 = """--source include/have_tianmu.inc

--disable_warnings

--echo # Creating test database test_db_1708
CREATE DATABASE IF NOT EXISTS test_db_1708;

USE test_db_1708;

CREATE TABLE t1 (
  id int NOT NULL PRIMARY KEY,
  ct int DEFAULT NULL,
  pc int DEFAULT NULL
);

INSERT INTO t1 VALUES (1,NULL,NULL),(2,NULL,NULL),(3,NULL,NULL),(4,NULL,NULL),(5,NULL,NULL);

CREATE TABLE t2 (
  id int NOT NULL PRIMARY KEY,
  sr int NOT NULL,
  nm varchar(255) NOT NULL
);

INSERT INTO t2 VALUES (2441905,4308,'LesAbymes'),(2441906,4308,'Anse-Bertrand');

CREATE TABLE t3 (
  id int NOT NULL PRIMARY KEY,
  ct int NOT NULL,
  ln int NOT NULL
);

SELECT t1.* FROM t1 LEFT JOIN (t2 LEFT JOIN t3 ON t3.ct=t2.id AND t3.ln='5') ON t1.ct=t2.id WHERE t1.id='5';

DROP DATABASE test_db_1708;
"""

SCRIPT_ISSUE981 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue981_test;
--enable_warnings

CREATE DATABASE issue981_test;

USE issue981_test;

--disable_warnings

DROP TABLE IF EXISTS timetest;

create table timetest (val timestamp) ENGINE=TIANMU;

## insert data
insert into timetest values ('2010-02-22 18:35:23');

## select
select val not between '2010-02-22 18:35:23' and '2015-11-23 08:02:45' from (select * from timetest) as A;
select val, val >= '2010-02-22 18:35:23' from (select * from timetest) as A;

## drop table
DROP TABLE timetest;

DROP DATABASE issue981_test;
"""

SCRIPT_ISSUE938 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue938_test;
--enable_warnings

CREATE DATABASE issue938_test;

USE issue938_test;

--disable_query_log
CREATE TABLE tb (d1 DECIMAL(17)) ENGINE=TIANMU;

INSERT INTO tb VALUES
    (1234),     
    (1234567890123),
    (56789012);
--enable_query_log

SELECT group_concat(d1 ORDER BY d1) FROM (SELECT d1 FROM tb) a1;

SELECT group_concat(d1 ORDER BY d1) FROM tb;

--disable_query_log
DROP TABLE tb;
--enable_query_log

DROP DATABASE issue938_test;
"""

SCRIPT_ISSUE1864 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1864_test;

CREATE DATABASE issue1864_test;

USE issue1864_test;

create table t1(c1 decimal(5,2)) engine=tianmu;
insert into t1 values(111.22);
 
create table t2(id int) engine=tianmu;
insert into t2 values(11122);

select xxx.x from (select c1 as x from t1 union all select 1 as x from t2) xxx;

select xxx.x from ( select t1.c1 as x from t1 inner join t2 on t1.c1 != t2.id ) xxx;

CREATE TABLE cs1 (d1 DECIMAL(17), d2 DECIMAL(17,10), d3 DECIMAL(17,17)) engine=tianmu;

INSERT INTO cs1 VALUES (125, 1.25, 0.125);

INSERT INTO cs1 VALUES (-125, -1.25, -0.125);

select * from cs1;

select * from cs1 union select * from cs1;

SELECT d1, d1, d2 FROM cs1 UNION SELECT d2, d3, d3 FROM cs1;

DROP DATABASE issue1864_test;
"""

SCRIPT_ISSUE1402 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1402_test;
--enable_warnings

CREATE DATABASE issue1402_test;

USE issue1402_test;

CREATE TABLE t1 (id INT, d DECIMAL(10,4)) ENGINE=tianmu;

INSERT INTO t1 VALUES (1, 1.2345), (2, 2.3456), (3, 3.4567);

SELECT COUNT(*), SUM(d), AVG(d), MIN(d), MAX(d) FROM t1;

SELECT id, SUM(d) FROM t1 GROUP BY id;

SELECT * FROM t1 ORDER BY d DESC;

SELECT * FROM t1 WHERE d > (SELECT AVG(d) FROM t1);

SELECT id, SUM(d) FROM t1 WHERE d > (SELECT AVG(d) FROM t1) GROUP BY id;

SELECT * FROM t1 WHERE d > (SELECT AVG(d) FROM t1) ORDER BY d DESC;

SELECT id, SUM(d) FROM t1 WHERE d > (SELECT AVG(d) FROM t1) GROUP BY id ORDER BY SUM(d) DESC;

SELECT t1.id, t1.d, t2.d FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id GROUP BY t1.id;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id GROUP BY t1.id ORDER BY SUM(t1.d) DESC;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id GROUP BY t1.id ORDER BY SUM(t1.d) DESC LIMIT 1;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id GROUP BY t1.id ORDER BY SUM(t1.d) DESC LIMIT 1 OFFSET 1;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id GROUP BY t1.id HAVING SUM(t1.d) > 3 ORDER BY SUM(t1.d) DESC LIMIT 1 OFFSET 1;

SELECT t1.id, SUM(t1.d), SUM(t2.d) FROM t1 JOIN (SELECT id, d FROM t1 WHERE d > 2) t2 ON t1.id = t2.id WHERE t1.id > 1 GROUP BY t1.id HAVING SUM(t1.d) > 3 ORDER BY SUM(t1.d) DESC LIMIT 1 OFFSET 1;

drop database issue1402_test;
"""

SCRIPT_CREATE_DB = """--source include/have_tianmu.inc

--echo #
--echo #Test creating libraries with names that are too long
--echo #

--error 1059
create database aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa;
--error 1059
drop database aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa;

--echo #
--echo #test common library creation scenarios
--echo #

create database test_db;
--error 1007
create database test_db;
create database if not exists test_db;
drop database test_db;

create database 1ea10;
drop database 1ea10;

create database e$8b;
drop database e$8b;

--echo #
--echo #Test the exception scenario use case for creating the library
--echo #

--error 1064
create database 888;
--error 1064
create database "";
--error 1064
create database " ";
--error 1064
create database "test ";
--error 1064
create database "test...";
--error 1064
create database "$test$";
--error 1064
create database "test.test";
--error 1064
create database "'test'";
--error 1064
create database "test/test";




select 1 as ok;
"""

SCRIPT_DROPDB = """create database b;
use b;
create table `mysql50` (f1 int primary key) engine=tianmu;
select count(*) as n from `mysql50`;
drop database b;
"""

SCRIPT_V_ISSUE1157 = r"""--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1157_test;
--enable_warnings

CREATE DATABASE issue1157_test;
USE issue1157_test;


CREATE TABLE st(
  `id` BIGINT(20) NOT NULL AUTO_INCREMENT,
  `name` VARCHAR(255) DEFAULT NULL,
  `uid` VARCHAR(11) DEFAULT NULL,
  PRIMARY KEY (`id`)
)engine=tianmu;

INSERT INTO st (NAME,uid) VALUES('%a','world');
INSERT INTO st (NAME,uid) VALUES('%_','world');

SELECT * FROM st WHERE NAME LIKE "a%a_" ESCAPE 'a'; 

SELECT * FROM st WHERE NAME LIKE "\%\_";

SELECT * FROM st WHERE NAME LIKE "\%_";

SELECT * FROM st WHERE NAME LIKE "a%_" ESCAPE 'a';

drop table st;


create table st2(id int ,column_2 varchar(10),column_3 varchar(10))engine=tianmu;
insert into st2 values(1,'_a\\\\','111111');
insert into st2 values(2,'12%','%12%');
insert into st2 values(3,'a_a','a%');
insert into st2 values(4,'_a\\','_12%');
insert into st2 values(5,'\\a','\\\\_a%12%');

select * from st2 where column_2 like '%_a\\\%';

select * from st2 where column_2 like '%?_a?\%' escape '?';

drop table st2;

DROP DATABASE issue1157_test;
"""

SCRIPT_V_ISSUE342 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue342_test;
--enable_warnings

CREATE DATABASE issue342_test;

USE issue342_test;

CREATE TABLE `lineitem_i342` (
`l_orderkey` int(11) NOT NULL,
`l_partkey` int(11) NOT NULL,
`l_suppkey` int(11) NOT NULL,
`l_linenumber` int(11) NOT NULL,
`l_quantity` decimal(15,2) NOT NULL,
`l_extendedprice` decimal(15,2) NOT NULL,
`l_discount` decimal(15,2) NOT NULL,
`l_tax` decimal(15,2) NOT NULL,
`l_returnflag` char(1) NOT NULL,
`l_linestatus` char(1) NOT NULL,
`l_shipdate` date NOT NULL,
`l_commitdate` date NOT NULL,
`l_receiptdate` date NOT NULL,
`l_shipinstruct` char(25) NOT NULL,
`l_shipmode` char(10) NOT NULL,
`l_comment` varchar(44) NOT NULL,
PRIMARY KEY (`l_orderkey`,`l_linenumber`)
) ENGINE=TIANMU;
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(842980, 1881559, 56614, 4, 5.00, 7702.30, 0.01, 0.03, 'A', 'F', '1992-01-02', '1992-03-20', '1992-01-20', 'COLLECT COD', 'REG AIR', 'lly regular asymptotes. unu');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(1111877, 1341765, 16805, 3, 20.00, 36134.00, 0.10, 0.07, 'A', 'F', '1992-01-02', '1992-02-28', '1992-01-07', 'TAKE BACK RETURN', 'FOB', 're. ideas wake');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(1332613, 539811, 14827, 1, 14.00, 25911.06, 0.08, 0.07, 'A', 'F', '1992-01-02', '1992-02-11', '1992-01-18', 'TAKE BACK RETURN', 'TRUCK', 'y against the furiously regular');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(2184032, 1394196, 44223, 5, 14.00, 18061.82, 0.06, 0.02, 'A', 'F', '1992-01-02', '1992-02-25', '1992-01-15', 'DELIVER IN PERSON', 'RAIL', 'even ideas breach slyly above the d');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(5018977, 820387, 20388, 1, 20.00, 26146.80, 0.00, 0.00, 'A', 'F', '1992-01-02', '1992-03-19', '1992-01-15', 'NONE', 'SHIP', 'packages detect furiously quick');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(8478693, 842913, 92930, 5, 13.00, 24126.31, 0.01, 0.03, 'A', 'F', '1992-01-02', '1992-02-02', '1992-01-05', 'DELIVER IN PERSON', 'REG AIR', 'y silent decoys');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(9838337, 201251, 26254, 1, 10.00, 11522.40, 0.03, 0.05, 'A', 'F', '1992-01-02', '1992-03-27', '1992-01-22', 'NONE', 'RAIL', 'pending pinto beans. boldly unusual de');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(11174723, 851066, 76075, 1, 41.00, 41697.82, 0.07, 0.02, 'A', 'F', '1992-01-02', '1992-03-28', '1992-01-08', 'NONE', 'MAIL', 's detect blithely entic');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12493984, 912626, 87654, 4, 6.00, 9831.48, 0.02, 0.08, 'A', 'F', '1992-01-02', '1992-02-13', '1992-01-29', 'TAKE BACK RETURN', 'REG AIR', 'e the slyly e');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12575687, 330833, 30834, 4, 41.00, 76416.62, 0.02, 0.04, 'A', 'F', '1992-01-02', '1992-03-10', '1992-01-28', 'DELIVER IN PERSON', 'RAIL', 'ecial frets. carefully sly depo');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12753441, 1023833, 98864, 4, 35.00, 61487.30, 0.10, 0.08, 'A', 'F', '1992-01-02', '1992-02-18', '1992-01-23', 'COLLECT COD', 'FOB', 'encies haggle. regular, r');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(15413986, 1799270, 99271, 4, 14.00, 19168.66, 0.05, 0.05, 'A', 'F', '1992-01-02', '1992-01-31', '1992-01-04', 'COLLECT COD', 'TRUCK', 'structions. blithely pending asymptotes');
CREATE VIEW revenue_i342 AS SELECT l_suppkey AS supplier_no, sum(l_extendedprice * (1 - l_discount)) AS total_revenue FROM lineitem_i342 WHERE l_shipdate >= '1992-01-01' AND l_shipdate < DATE_ADD('1992-01-01',INTERVAL 3 MONTH) GROUP BY l_suppkey;
SELECT * FROM revenue_i342 ORDER BY supplier_no;
DROP VIEW revenue_i342;
DROP TABLE lineitem_i342;

DROP DATABASE issue342_test;
"""

SCRIPT_V_ISSUE1079_366 = """--source include/have_tianmu.inc
--source include/have_binlog_format_row.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1079_test;
--enable_warnings
CREATE DATABASE issue1079_test;
USE issue1079_test;

create table t(fi int, fv varchar(30), fdt datetime)engine=tianmu;

insert into t values(1,'VAR-1',current_timestamp);
insert into t values(2,'VAR-2',current_timestamp);
insert into t values(3,'VAR-3',current_timestamp);
insert into t values(4,'VAR-4',current_timestamp);
insert into t values(5,'VAR-5',current_timestamp);
insert into t values(6,'VAR-6',current_timestamp);
insert into t values(7,'VAR-7',current_timestamp);
insert into t values(8,'VAR-8',current_timestamp);
insert into t values(9,'VAR-9',current_timestamp);
insert into t values(10,'VAR-10',current_timestamp);
select count(*) c from t;

insert into t select fi+10,concat('VAR-',fi+10),current_timestamp from t;
insert into t select fi+20,concat('VAR-',fi+20),current_timestamp from t;
insert into t select fi+40,concat('VAR-',fi+40),current_timestamp from t;
insert into t select fi+80,concat('VAR-',fi+80),current_timestamp from t;
select count(*) c from t;

insert into t select fi+160,concat('VAR-',fi+160),current_timestamp from t;
insert into t select fi+320,concat('VAR-',fi+320),current_timestamp from t;
insert into t select fi+640,concat('VAR-',fi+640),current_timestamp from t;
select count(*) c from t;

insert into t select fi+1280,concat('VAR-',fi+1280),current_timestamp from t;
insert into t select fi+2560,concat('VAR-',fi+2560),current_timestamp from t;
insert into t select fi+5120,concat('VAR-',fi+5120),current_timestamp from t;
select count(*) c from t;

insert into t select fi+10240,concat('VAR-',fi+10240),current_timestamp from t;
insert into t select fi+20480,concat('VAR-',fi+20480),current_timestamp from t;
select count(*) c from t;

show create table t;

alter table t modify column fv varchar(60);

show create table t;

DROP DATABASE issue1079_test;
"""

SCRIPT_V_ISSUE1175 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1175_test;
--enable_warnings

--echo # Creating test database issue1175_test
CREATE DATABASE issue1175_test;

USE issue1175_test;

--disable_warnings

--echo # Create test table with tianmu engine
CREATE TABLE t1 (
  id INT AUTO_INCREMENT PRIMARY KEY,
  t TIME,
  d DATE,
  dt DATETIME,
  ts TIMESTAMP
) ENGINE=TIANMU;

--echo # Insert data into test table
INSERT INTO t1 (t, d, dt, ts) VALUES
('00:00:00', '2000-01-01', '2000-01-01 00:00:00', '2000-01-01 00:00:00'),
('-838:59:59', '2001-02-28', '2001-02-28 00:00:00', '2001-02-28 00:00:00'),
('838:59:59', '2002-03-31', '2002-03-31 23:59:59', '2002-03-31 23:59:59'),
('-100:00:00', '2010-12-31', '2010-12-31 12:34:56', '2010-12-31 12:34:56'),
('200:00:00', '2011-11-30', '2011-11-30 18:00:00', '2011-11-30 18:00:00'),
('-400:00:00', '2012-02-29', '2012-02-29 01:23:45', '2012-02-29 01:23:45'),
('720:00:00', '2020-10-31', '2020-10-31 14:00:00', '2020-10-31 14:00:00'),
('05:30:15', '1985-04-12', '1985-04-12 05:30:15.123', '1985-04-12 05:30:15.123'),
('-23:45:01', '1995-08-24', '1995-08-24 15:45:30.987', '1995-08-24 15:45:30.987'),
('67:15:45', '2005-06-15', '2005-06-15 10:59:59.001', '2005-06-15 10:59:59.001'),
('-115:00:00', '2007-12-25', '2007-12-25 23:30:45.500', '2007-12-25 23:30:45.500'),
('350:30:15', '2015-09-05', '2015-09-05 12:00:00.999', '2015-09-05 12:00:00.999'),
('-500:45:30', '2017-03-01', '2017-03-01 01:23:45.250', '2017-03-01 01:23:45.250'),
('600:15:00', '2021-05-01', '2021-05-01 17:30:00.123', '2021-05-01 17:30:00.123'),
('12:34:56', '1970-01-01', '1970-01-01 12:34:56', '1970-01-01 12:34:56'),
('-300:00:00.123', '1980-06-30', '1980-06-30 18:30:45.123', '1980-06-30 18:30:45.123'),
('450:00:00', '1990-03-15', '1990-03-15 11:59:59.999', '1990-03-15 11:59:59.999'),
('-600:00:00.9', '1999-09-09', '1999-09-09 06:45:00.250', '1999-09-09 06:45:00.250'),
('-09:00:00', '2005-02-28', '2005-02-28 15:00:00.123', '2005-02-28 15:00:00.123'),
('-123:45:00', '2008-08-08', '2008-08-08 20:15:30.987', '2008-08-08 20:15:30.987'),
('99:00:00', '2013-07-07', '2013-07-07 17:30:45.500', '2013-07-07 17:30:45.500'),
('-220:00:00', '2016-04-30', '2016-04-30 02:00:00.999', '2016-04-30 02:00:00.999'),
('580:00:00', '2019-12-31', '2019-12-31 01:23:45.250', '2019-12-31 01:23:45.250'),
('-750:00:00', '2021-08-31', '2021-08-31 09:45:00.123', '2021-08-31 09:45:00.123');

--echo # Select all data from test table
SELECT * FROM t1 ORDER BY id;

--echo # Dropping test database issue1175_test
DROP DATABASE issue1175_test;
"""

SCRIPT_V_ISSUE971 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue971_test;
--enable_warnings

CREATE DATABASE issue971_test;

USE issue971_test;

--disable_warnings

## enable the tianmu primary key index

set global tianmu_index_search=on;

## DDL

DROP TABLE IF EXISTS tt1,tt2;

CREATE TABLE tt1(id INT PRIMARY KEY,name VARCHAR(5),copy_id INT) ENGINE=TIANMU;
CREATE TABLE tt2(id INT PRIMARY KEY,name VARCHAR(5),copy_id INT) ENGINE=TIANMU;

## insert data

INSERT INTO tt1 VALUES(1,'AAA',1),(2,'AAA',2),(3,'BBB',3),(4,'BBB',4),(5,'CCC',5);
INSERT INTO tt2 VALUES(1,'BBB',1),(2,'BBB',2),(3,'CCC',3),(4,'CCC',4),(5,'DDD',5);

## subquery EXISTS

SELECT * FROM tt1 WHERE EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND name = 'BBB');

SELECT * FROM tt1 WHERE EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id = 2);

SELECT * FROM tt1 WHERE EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id > 2);

SELECT * FROM tt1 WHERE EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id < 2);

## subquery NOT EXISTS

SELECT * FROM tt1 WHERE NOT EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND name = 'BBB');

SELECT * FROM tt1 WHERE NOT EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id = 2);

SELECT * FROM tt1 WHERE NOT EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id > 2);

SELECT * FROM tt1 WHERE NOT EXISTS (SELECT 1 FROM tt2 WHERE tt1.id = tt2.id AND tt2.id < 2);

## disable the tianmu primary key index

set global tianmu_index_search=off;

## clean test table

DROP TABLE tt1,tt2;

DROP DATABASE issue971_test;
"""

SCRIPT_V_ISSUE767 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue767_test;
--enable_warnings

CREATE DATABASE issue767_test;

USE issue767_test;

create table t1(val int) ENGINE=tianmu;
create table t2(val2 int) ENGINE=tianmu;

insert into t1 values(0);
insert into t1 values(1);
insert into t1 values(10);
insert into t1 values(11);
insert into t1 values(20);
insert into t1 values(21);
insert into t1 values(42);
insert into t1 values(43);
insert into t2 values(0);
insert into t2 values(1);
insert into t2 values(10);
insert into t2 values(11);
insert into t2 values(20);
insert into t2 values(21);
insert into t2 values(42);
insert into t2 values(43);

#original case(just test not in)
select * from t1 where 42 not in (select * from t1 where val > 42);
select * from t1 where 42 not in (select * from t1 where val < 10);
select * from t1 where 42 not in (select * from t1 where val >= 42);
select * from t1 where 42 not in (select * from t1 where val <= 10);

#independent subquery
insert into t2 values(10);
select * from t1 where val not in (select * from t2 where val2 > 10);
select * from t1 where val not in (select * from t2 where val2 >= 10);
select * from t1 where val not in (select * from t2 where val2 < 10);
select * from t1 where val not in (select * from t2 where val2 <=10);

#dependent subquery
select * from t1 where val not in (select * from t2 where val2 > t1.val);
select * from t1 where val not in (select * from t2 where val2 >= t1.val);
select * from t1 where val not in (select * from t2 where val2 < t1.val);
select * from t1 where val not in (select * from t2 where val2 <= t1.val);

select * from t1 where val not in (select * from t2 where val2 > t1.val and val2 >t1.val +10);
select * from t1 where val not in (select * from t2 where val2 >= t1.val and val2 >= t1.val +10);
select * from t1 where val not in (select * from t2 where val2 < t1.val and val2 <t1.val +10);
select * from t1 where val not in (select * from t2 where val2 <= t1.val and val2 >= t1.val +10);
select * from t1 where val not in (select * from t2 where val2 > t1.val);

drop table t1;
drop table t2;

DROP DATABASE issue767_test;
"""

SCRIPT_V_ALTER_BIT = """--source include/have_tianmu.inc

--echo #
--echo # Test alter bit
--echo #

--disable_warnings
DROP DATABASE IF EXISTS alter_bit_test;
--enable_warnings
CREATE DATABASE alter_bit_test;
USE alter_bit_test;

CREATE TABLE t1 (a BIT(63));
INSERT INTO t1 VALUES (b'111111111111111');
INSERT INTO t1 VALUES (b'1111111111111111111111111');
INSERT INTO t1 VALUES (b'111111111111111111111111111111111111111111111111111111111111111');
INSERT INTO t1 VALUES (b'11111111111111111111111111111111111111111111111111111111111111');

SELECT HEX(a) FROM t1 WHERE a = b'111111111111111';
SELECT HEX(a) FROM t1 WHERE a = b'1111111111111111111111111';
#bug1176 SELECT HEX(a) FROM t1 WHERE a = b'111111111111111111111111111111111111111111111111111111111111111';
SELECT HEX(a) FROM t1 WHERE a = b'11111111111111111111111111111111111111111111111111111111111111';
drop table t1;

create table t2(a bit(2), b bit(2));
insert into t2 (a) values (0x01), (0x03), (0x02);
alter table t2 add column c bit(4);
alter table t2 modify c int(11);
select a+0,b+0 from t2;
update t2 set b= a-1;
select a+0, b+0 from t2;
delete from t2;
drop table t2;

CREATE TABLE st(b int);
INSERT INTO st VALUES (12);
INSERT INTO st SELECT b>>1 FROM st;
INSERT INTO st SELECT b>>2 FROM st;
INSERT INTO st SELECT b>>4 FROM st;
INSERT INTO st SELECT b>>8 FROM st;
select hex(b) from st;

CREATE TABLE st1(b BIT(16));
INSERT INTO st1 VALUES (B'1101100000000000');
INSERT INTO st1 SELECT b>>1 FROM st1;
select hex(b) from st1;

drop table st1;
CREATE TABLE t1 (a BIT(63));
INSERT INTO t1 VALUES (b'111111111111111');
create table st1 as select * from t1;
select hex(a) from st1;

CREATE TABLE t2 (b BIT(16));
INSERT INTO t2 VALUES (B'1101100000000000');
create table st2 as select * from t2;
select b+0 from st2;

# clean 
drop database alter_bit_test;
"""

SCRIPT_V_ISSUE947 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue947_test;
--enable_warnings

CREATE DATABASE issue947_test;

USE issue947_test;

--disable_warnings

DROP TABLE IF EXISTS test1,test2;

## DDL

CREATE TABLE test1 (a int) ENGINE=TIANMU;
CREATE TABLE test2 (b int, c int) ENGINE=TIANMU;

## insert data

INSERT INTO test1 VALUES (1), (2), (3), (4), (null);
INSERT INTO test2 VALUES (1, 100), (1, 101), (2, 200),
(3, 300), (3, 301), (3, 302), (null, null);

## The predicate is NOT IN

### Subquery single layer

SELECT * FROM test1 WHERE a NOT IN (SELECT b FROM test2 WHERE b = 7);

SELECT * FROM test1 WHERE a NOT IN ( SELECT b FROM test2 WHERE b=1);

### Deep nesting of subqueries

SELECT * FROM test1 WHERE a NOT IN ( SELECT b FROM test2 WHERE b NOT IN ( SELECT a FROM test1));

SELECT * FROM test1 WHERE a NOT IN ( SELECT b FROM test2 WHERE b IN ( SELECT a FROM test1));

## The predicate is IN

### is null

SELECT * FROM test1 WHERE a IN ( SELECT b FROM test2 WHERE b is null);

### equal

SELECT * FROM test1 WHERE a IN ( SELECT b FROM test2 WHERE b=1);

### Multiple layers nested IN

SELECT * FROM test1 WHERE a IN ( SELECT b FROM test2 WHERE b IN ( SELECT a FROM test1));

SELECT * FROM test1 WHERE a IN ( SELECT b FROM test2 WHERE b NOT IN ( SELECT a FROM test1));

## clean test table

DROP TABLE test1,test2;

DROP DATABASE issue947_test;
"""

SCRIPT_V_INSERT_SELECT_FROM = """--source include/have_tianmu.inc

--echo #
--echo # Test INSERT..SELECT statement
--echo # Author: shiz
--echo #


--disable_warnings
DROP DATABASE IF EXISTS insert_select_test;
--enable_warnings

CREATE DATABASE insert_select_test;
USE insert_select_test;

CREATE TABLE t1(t1_bool BOOLEAN,
t1_int INT,
t1_decimal DECIMAL(5,2),
t1_varchar VARCHAR(10),
t1_dt DATETIME
);

CREATE TABLE t2(t2_char CHAR(5) NOT NULL DEFAULT 'xyz',
t2_int INT,
t2_varchar VARCHAR(10),
t2_dt DATETIME
);

INSERT INTO t1 VALUES(1,1111,11.11,'aaaaa','2020-02-01 17:8:19'),
(1,2222,22.22,'bbbb','1234-11-21 9:18:16');
SELECT * FROM t1;

INSERT INTO t2 (t2_int,t2_varchar,t2_dt) SELECT t1_int,t1_varchar,t1_dt FROM t1;
INSERT INTO t2 (t2_int,t2_varchar,t2_dt) SELECT t1_int,t1_varchar,t1_dt FROM t1 WHERE t1.t1_int=1111;
INSERT INTO t2 SELECT * FROM t2;
INSERT INTO t2 (t2_char) SELECT (SELECT SUM(LENGTH(t1_varchar)) FROM t1) FROM t1 LIMIT 1;
INSERT INTO t2 (t2_char) SELECT (SELECT MAX(LENGTH(t1_varchar)) AS 'var' FROM t1) FROM t1 LIMIT 1;
INSERT INTO t2 SELECT * FROM t2 WHERE t2.t2_char='xyz' LIMIT 1;
SELECT * FROM t2;

# Negative scenarios
--error ER_WRONG_VALUE_COUNT_ON_ROW
INSERT INTO t2 SELECT * FROM t1;
--error ER_WRONG_VALUE_COUNT_ON_ROW
INSERT INTO t2 SELECT t1_int,t1_varchar,t1_dt FROM t1;
--error ER_WRONG_VALUE_COUNT_ON_ROW
INSERT INTO t2 SELECT (SELECT SUM(LENGTH(t2_varchar)) AS 'var' FROM t2 WHERE t2.t2_char='xyz' LIMIT 1) FROM t2;
--error ER_NONUNIQ_TABLE
INSERT INTO t2 SELECT * FROM t2,t2;

DROP TABLE t1;
DROP TABLE t2;

CREATE TABLE t1(t1_int INT NOT NULL PRIMARY KEY, t1_char CHAR(10));
CREATE TABLE t2(t2_int INT, t2_char CHAR(10));
INSERT INTO t1 VALUES(1,'a'),(2,'bb'),(3,'ccc');
INSERT INTO t2 SELECT * FROM t1;
INSERT INTO t2 SELECT * FROM t2;
SELECT * FROM t2;

# Clean up
DROP DATABASE insert_select_test;
"""

SCRIPT_V_ISSUE1912 = """--source include/have_tianmu.inc
--disable_warnings

DROP DATABASE IF EXISTS issue1912;
CREATE DATABASE issue1912;
USE issue1912;
--enable_warnings

CREATE TABLE `v_c1am_busi_type` (
  `ROW_ID` int(11) DEFAULT NULL,
  `TENANT_ID` int(11) DEFAULT NULL,
  `CLASS_ID` decimal(18,0) DEFAULT NULL,
  `INNER_CODE` varchar(20) DEFAULT NULL
) ENGINE=TIANMU;

INSERT INTO v_c1am_busi_type VALUES 
(111,101,3000000000233027,'aaaa'),
(222,201,3000000000233027,'bbbb'),
(333,301,3000000000233027,'cccc');

CREATE TABLE `C1AM_BANK_CLASS` (
  `ROW_ID` int(11) DEFAULT NULL,
  `TENANT_ID` int(11) DEFAULT NULL,
  `SERIAL_ID` int(11) DEFAULT NULL,
  `CLASS_ID` decimal(18,0) DEFAULT NULL,
  `TRADE_DATE` datetime DEFAULT NULL
) ENGINE=TIANMU;

INSERT INTO C1AM_BANK_CLASS VALUES 
(111,101,111,3000000000233027,'2023-07-19 16:28:12'),
(222,201,222,3000000000233027,'2023-07-20 16:28:12'),
(333,301,333,3000000000233027,'2023-07-24 16:28:12');

CREATE TABLE `c1AM_BANK_LIST` (
  `ROW_ID` int(11) DEFAULT NULL,
  `TENANT_ID` int(11) DEFAULT NULL,
  `CURRENCY_ID` int(11) DEFAULT NULL,
  `CURRENCY_NAME` varchar(20) DEFAULT NULL,
  `TRADE_DATE` datetime DEFAULT NULL
) ENGINE=TIANMU;

INSERT INTO c1AM_BANK_LIST VALUES 
(111,101,222,'abcd','2023-07-19 16:30:47'),
(222,201,333,'abcdefg','2023-07-21 16:30:47'),
(333,301,111,'ab','2023-07-27 16:30:47');

CREATE TABLE `C1CD_CURRENCY` (
  `ROW_ID` int(11) DEFAULT NULL,
  `CURRENCY_NAME` varchar(20) DEFAULT NULL
) ENGINE=TIANMU;

INSERT INTO C1CD_CURRENCY VALUES 
(1,'bcd'),
(2,'aswq'),
(3,'aaaa');

SELECT IFNULL(b.CURRENCY_NAME, '合计（人民币）') CURRENCY_NAME
   FROM v_c1am_busi_type a
   LEFT JOIN (select a.INNER_CODE, a.CURRENCY_ID, d.CURRENCY_NAME
                FROM (SELECT a.INNER_CODE, b.CURRENCY_ID
                        FROM v_c1am_busi_type a
                       CROSS JOIN (SELECT a.TENANT_ID, b.CURRENCY_ID
                                    FROM C1AM_BANK_CLASS a, c1AM_BANK_LIST b
                                   where a.SERIAL_ID = b.ROW_ID
                                     and DATE_FORMAT(b.TRADE_DATE, '%Y-%m-%d') BETWEEN
                                         DATE_FORMAT('2023-07-06', '%Y-%m-%d') AND
                                         DATE_FORMAT('2023-07-26', '%Y-%m-%d')
                                   GROUP BY a.TENANT_ID, b.CURRENCY_ID) b
                       WHERE a.CLASS_ID = 3000000000233027) a
                LEFT JOIN C1CD_CURRENCY d
                  ON a.CURRENCY_ID = d.ROW_ID) b
     ON a.INNER_CODE =
   LEFT(b.INNER_CODE, LENGTH(a.INNER_CODE))
  GROUP BY b.CURRENCY_NAME;

DROP TABLE v_c1am_busi_type;
DROP TABLE C1AM_BANK_CLASS;
DROP TABLE c1AM_BANK_LIST;
DROP TABLE C1CD_CURRENCY;

DROP DATABASE issue1912;"""

SCRIPT_V_ISSUE1931 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1931_test_db;
--enable_warnings
CREATE DATABASE issue1931_test_db;
USE issue1931_test_db;

CREATE TABLE `c1am_acct_day` (
  `ACCOUNT_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '账户ID',
  `FISCAL_DATE` date DEFAULT NULL COMMENT '记账日期',
  `BALANCE` decimal(16,2) NOT NULL DEFAULT '0.00' COMMENT '余额',
  `DELETED_FLAG` char(1) NOT NULL DEFAULT '0' COMMENT '记录删除标志 [0]-未删除;[1]-逻辑删除'
) ENGINE=TIANMU;

CREATE TABLE `c1md_bank_acct` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT 'ROW_ID',
  `CURRENCY_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '币种ID',
  `COMPANY_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '单位ID',
  `DELETED_FLAG` char(1) NOT NULL DEFAULT '0' COMMENT '记录删除标志 [0]-未删除;[1]-逻辑删除'
) ENGINE=TIANMU;

CREATE TABLE `c1md_company` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT 'ROW_ID',
  `SYS_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '系统ID'
) ENGINE=TIANMU;

INSERT INTO `c1am_acct_day` 
  VALUES 
    (3000000000028804, '2023-04-16', 7628617.08, '0'),
    (3000000000028804, '2023-04-17', 7626656.73, '0'),
    (3000000000028804, '2023-04-18', 7626471.23, '0'),
    (3000000000028806, '2023-04-15', 605253889.19, '0'),
    (3000000000028806, '2023-04-16', 611274357.27, '0'),
    (3000000000028806, '2023-04-17', 605257716.01, '0'),
    (3000000000028808, '2023-04-18', 79322521.29, '0'),
    (3000000000028808, '2023-04-19', 79322521.29, '0'),
    (3000000000028808, '2023-04-20', 79322521.29, '0'),
    (3000000000028809, '2023-04-18', 79322521.29, '0'),
    (3000000000028809, '2023-04-19', 79322521.29, '0'),
    (3000000000028809, '2023-04-20', 79322521.29, '0');

INSERT INTO `c1md_bank_acct`
  VALUES
    (3000000000028804, 1, 3000000000027247, '0'),
    (3000000000028806, 3, 3000000000027248, '0'),
    (3000000000028808, 15, 3000000000027249, '0'),
    (3000000000028809, 6, 3000000000027250, '0');

INSERT INTO `c1md_company`
  VALUES
    (3000000000027247, 2),
    (3000000000027248, 2),
    (3000000000027249, 2),
    (3000000000027250, 2);

SELECT a.*
  FROM (SELECT 
         '合计' total, 
         a.CURRENCY_ID, 
         'aaaa' inner_code
        FROM (SELECT 
               b.CURRENCY_ID, 
               a.account_id, 
               a.fiscal_date, 
               a.balance
              FROM 
               c1am_acct_day a, 
               c1md_bank_acct b
              WHERE a.account_id = b.ROW_ID) a
        JOIN c1md_bank_acct b
         ON b.row_id = a.account_id
        JOIN c1md_company c
         ON c.row_id = b.company_id
        WHERE 1 = 1
          AND c.row_id IN (SELECT t1.row_id
                           FROM c1md_company t1, c1md_company t2
                           WHERE t1.sys_id = t2.sys_id)
        GROUP BY a.CURRENCY_ID) a;

DROP DATABASE issue1931_test_db;
"""

SCRIPT_V_ISSUE763 = """--source include/have_tianmu.inc

--echo #
--echo # SELECT ... FROM tablename WHERE col LIKE NULL
--echo #

--disable_warnings
DROP DATABASE IF EXISTS test_like_null;
--enable_warnings

CREATE DATABASE test_like_null;
USE test_like_null;

create table tlike1 (id int, val varchar(255));
INSERT INTO tlike1 VALUES(1,'a'), (1,'b'), (1,'c'), (2,'dd'), (3,'eee'), (4, NULL), (5, NULL);
SELECT * FROM tlike1;
SELECT * FROM tlike1 WHERE val is NULL;
SELECT * FROM tlike1 WHERE val LIKE NULL;
SELECT COUNT(*) FROM tlike1 WHERE val LIKE NULL;
SELECT id, val FROM tlike1 WHERE id=1 and val LIKE NULL;
SELECT id, val FROM tlike1 WHERE id=1 or val LIKE NULL;
SELECT id, val FROM tlike1 WHERE id in (4, 5) and val LIKE NULL;
SELECT id, val FROM tlike1 WHERE id in (4, 5) or val LIKE NULL;

create table tlike2 (id int, val varchar(255));
INSERT INTO tlike2 VALUES(1,'a'), (1,'b'), (1,'c'), (2,'dd'), (3,'eee'), (4, ""), (5, NULL);
SELECT * FROM tlike2;
SELECT * FROM tlike2 WHERE val is NULL;
SELECT * FROM tlike2 WHERE val LIKE NULL;
SELECT * FROM tlike2 WHERE val LIKE "";
SELECT COUNT(*) FROM tlike2 WHERE val LIKE NULL;
SELECT id, val FROM tlike2 WHERE id=1 and val LIKE NULL;
SELECT id, val FROM tlike2 WHERE id=1 or val LIKE NULL;
SELECT id, val FROM tlike2 WHERE id in (4, 5) and val LIKE NULL;
SELECT id, val FROM tlike2 WHERE id in (4, 5) or val LIKE NULL;

create table tlike3 (id int, val varchar(255));
INSERT INTO tlike3 VALUES(1,'a'), (1,'b'), (1,'c'), (2,'dd'), (3,'eee'), (4, ""), (5, "ggggg");
SELECT * FROM tlike3;
SELECT * FROM tlike3 WHERE val is NULL;
SELECT * FROM tlike3 WHERE val LIKE NULL;
SELECT COUNT(*) FROM tlike3 WHERE val LIKE NULL;
SELECT id, val FROM tlike3 WHERE id=1 and val LIKE NULL;
SELECT id, val FROM tlike3 WHERE id=1 or val LIKE NULL;
SELECT id, val FROM tlike3 WHERE id in (4, 5) and val LIKE NULL;
SELECT id, val FROM tlike3 WHERE id in (4, 5) or val LIKE NULL;

create table tlike4 (id int, val varchar(255));
INSERT INTO tlike4 VALUES(1,'a'), (1,'b'), (1,'c'), (2,'dd'), (3,'eee'), (4, "ffff"), (5, "ggggg");
SELECT * FROM tlike4;
SELECT * FROM tlike4 WHERE val is NULL;
SELECT * FROM tlike4 WHERE val LIKE NULL;
SELECT COUNT(*) FROM tlike4 WHERE val LIKE NULL;
SELECT id, val FROM tlike4 WHERE id=1 and val LIKE NULL;
SELECT id, val FROM tlike4 WHERE id=1 or val LIKE NULL;
SELECT id, val FROM tlike4 WHERE id in (4, 5) and val LIKE NULL;
SELECT id, val FROM tlike4 WHERE id in (4, 5) or val LIKE NULL;

# test NOT LIKE
SELECT * FROM tlike1 WHERE val NOT LIKE NULL;
SELECT COUNT(*) FROM tlike1 WHERE val NOT LIKE NULL;
SELECT id, val FROM tlike1 WHERE id=1 and val NOT LIKE NULL;
SELECT id, val FROM tlike1 WHERE id=1 or val NOT LIKE NULL;
SELECT id, val FROM tlike1 WHERE id in (4, 5) and val NOT LIKE NULL;
SELECT id, val FROM tlike1 WHERE id in (4, 5) or val NOT LIKE NULL;

# test multi table
SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and t1.val like NULL;
SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and  t2.val like NULL;
SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and t1.val like NULL and t2.val like NULL;

SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and t1.val is NULL;
SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and  t2.val is NULL;
SELECT t1.id, t1.val FROM tlike1 t1, tlike2 t2 where t1.id=t2.id and t1.val is NULL and t2.val is NULL;

# test union all
SELECT id, val FROM tlike1 WHERE val LIKE NULL union all SELECT id, val FROM tlike2 WHERE id in (4,5) and val LIKE NULL;
SELECT id, val FROM tlike1 WHERE val is NULL union all SELECT id, val FROM tlike2 WHERE id in (4,5) and val is NULL;

# Clean UP
DROP DATABASE test_like_null;
"""

SCRIPT_V_ISSUE1394 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1394_test;
--enable_warnings

CREATE DATABASE issue1394_test;

USE issue1394_test;

--disable_warnings

## DDL
 
create table c(c1 int, c2 varchar(2)) engine=TIANMU;
 
create table d(d1 int, d2 varchar(2)) engine=TIANMU;

## insert data

insert into c values(1, 'c1');
 
insert into c values(2, 'c2');
 
insert into c values(null, 'c3');
 
insert into d values(1, 'd1');
 
insert into d values(2, 'd2');
 
insert into d values(null, 'd3');

## query

select * from d;

select * from d limit 0;

select * from d limit 1;

select * from d where d1=1 limit 0;

select * from d where d1=1 limit 1;

select * from c where  exists ( select * from d where d1=1  limit 0);

select * from c where  exists ( select * from d where d1=1  limit 1);

select * from c where  exists ( select * from d where d1=1  limit 0,1) limit 0;

select * from c where  exists ( select * from d where d1=1  limit 0,1) limit 1;

select * from c where  exists ( select * from d where d1=1  limit 0) limit 0;

select * from c where  exists ( select * from d where d1=1  limit 1) limit 1;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL limit 1;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL limit 0;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL limit 1;

SELECT * FROM c RIGHT OUTER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL limit 0;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL limit 1;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NULL limit 0;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL limit 1;

SELECT * FROM c INNER JOIN d ON c.c1 = d.d1 WHERE d.d1 IS NOT NULL limit 0;

## clean test table

DROP DATABASE issue1394_test;
"""

SCRIPT_V_ISSUE1938 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1938_test_db;
--enable_warnings
CREATE DATABASE issue1938_test_db;
USE issue1938_test_db;

CREATE TABLE `c1fg_pl_node` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT 'ROW_ID',
  `COMPANY_ID` decimal(18,0) DEFAULT '-1' COMMENT '对应组织ID。实体类型为公司、部门'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 ROW_FORMAT=DYNAMIC COMMENT='账户信息包括成员单位内部开设的账户，系统为相关会计科目保留的内部账户';

CREATE TABLE `c1md_company` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT 'ROW_ID',
  `SHORT_NAME` varchar(300) NOT NULL COMMENT '简称',
  `COMPANY_NAME` varchar(300) NOT NULL COMMENT '单位名称'
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4 ROW_FORMAT=DYNAMIC COMMENT='组织机构';

INSERT INTO `c1fg_pl_node`
  VALUES
    (3000000000030962,3000000000027247),
    (3000000000030987,3000000000027248),
    (3000000000030994,3000000000027249);

INSERT INTO `c1md_company`
  VALUES
    (3000000000027247, '集团本部', '凯润国际（中国）有限公司'),
    (3000000000027248, '南京凯润易事', '南京凯润易事软件科技有限公司'),
    (3000000000027249, '深圳凯润银科', '深圳凯润银科信息技术有限公司'),
    (3000000000027250, '北京易事通慧', '北京易事通慧科技有限公司'),
    (3000000000027251, '北京繁德信息', '繁德信息技术服务有限公司'),
    (3000000000027252, '胜科金仕达', '胜科金仕达数据系统（中国）有限公司'),
    (3000000000027253, '上海凯润银科', '凯润银科上海有限公司'),
    (3000000000027254, '融银科技', '南京融银万家网络科技有限公司'),
    (3000000000027255, '外汇公司', '浦发2889959354');

SELECT A.company_id, IFNULL(B.short_name, B.company_name) company_name
  FROM (SELECT B.company_id, 1 sort_no FROM c1fg_pl_node B) A
  LEFT JOIN c1md_company B
    ON A.company_id = B.row_id
ORDER BY A.company_id;

DROP DATABASE issue1938_test_db;
"""

SCRIPT_V_ISSUE964 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue964_test;
--enable_warnings

CREATE DATABASE issue964_test;

USE issue964_test;

--disable_warnings

DROP TABLE IF EXISTS t1,t2;

## DDL

CREATE TABLE `t1` (
  `id` int(11) DEFAULT NULL,
  `name` varchar(20),
  PRIMARY KEY `idx_n` (`name`)
) DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_bin;

CREATE TABLE `t2` (
  `id` int(11) DEFAULT NULL,
  `name` varchar(20),
  PRIMARY KEY `idx_n` (`name`)
)DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_bin;

## insert data, only for table t1

insert into t1 values(1,'abc');
insert into t1 values(2,'def');

## join return empty table t2

SELECT
	t1.id,
	t1.name,
	t2.id,
	t2.name
FROM
	t1
LEFT JOIN t2 ON
	t1.name = t2.name
WHERE
	t1.name IN ('abc');

## clear tables

DROP TABLE t1,t2;

DROP DATABASE issue964_test;
"""

SCRIPT_V_ISSUE282 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue282_test;
--enable_warnings

CREATE DATABASE issue282_test;

USE issue282_test;

CREATE TABLE issue282_t1 (sku int PRIMARY KEY, pr int)engine=tianmu;
CREATE TABLE issue282_t2 (sku int PRIMARY KEY, sppr int, name varchar(255))engine=tianmu;

INSERT INTO issue282_t1 VALUES
  (10, 10), (20, 10), (30, 20), (40, 30), (50, 10), (60, 10);

INSERT INTO issue282_t2 VALUES 
  (10, 10, 'aaa'), (20, 10, 'bbb'), (30, 10, 'ccc'), (40, 20, 'ddd'),
  (50, 10, 'eee'), (60, 20, 'fff'), (70, 20, 'ggg'), (80, 30, 'hhh');

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE issue282_t2.sku=20 AND (issue282_t2.sku=issue282_t1.sku OR issue282_t2.sppr=issue282_t1.sku)
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE issue282_t2.sku=20 OR (issue282_t2.sku=issue282_t1.sku OR issue282_t2.sppr=issue282_t1.sku) 
ORDER BY issue282_t2.sku asc;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE issue282_t2.sku=20 AND (issue282_t2.sku=issue282_t1.sku AND issue282_t2.sppr=issue282_t1.sku)
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE issue282_t2.sku=20 OR (issue282_t2.sku=issue282_t1.sku AND issue282_t2.sppr=issue282_t1.sku)
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE issue282_t2.sku=20 OR issue282_t2.sku=issue282_t1.sku AND issue282_t2.sppr=issue282_t1.sku
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE (issue282_t2.sku>20 OR issue282_t2.sku=issue282_t1.sku) AND issue282_t2.sppr=issue282_t1.sku
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE (issue282_t2.sku<=20 OR issue282_t2.sku=issue282_t1.sku) AND issue282_t2.sppr=issue282_t1.sku
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr
  FROM issue282_t2, issue282_t1 WHERE (issue282_t2.sku<=20 AND issue282_t2.sku>issue282_t1.sku) OR issue282_t2.sppr=issue282_t1.sku
ORDER BY issue282_t2.sku;

--echo #
--echo # Multiple nesting
--echo #

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr   
  FROM issue282_t2, issue282_t1 WHERE 
  issue282_t1.sku=60 OR 
  (issue282_t2.sku=20 AND 
  (issue282_t2.sku=issue282_t1.sku OR 
  issue282_t2.sppr=issue282_t1.sku))
ORDER BY issue282_t2.sku;

SELECT issue282_t2.sku, issue282_t2.sppr, issue282_t2.name, issue282_t1.sku, issue282_t1.pr   
  FROM issue282_t2, issue282_t1 WHERE 
  issue282_t1.sku=10 AND 
  (issue282_t2.sku=20 AND 
  (issue282_t2.sku=issue282_t1.sku OR 
  issue282_t2.sppr=issue282_t1.sku))
ORDER BY issue282_t2.sku;

drop table issue282_t1 ,issue282_t2;

DROP DATABASE issue282_test;
"""

SCRIPT_V_ISSUE1861 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1861_test;

CREATE DATABASE issue1861_test;
USE issue1861_test;
--enable_warnings

CREATE TABLE `c1fg_pool` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  PRIMARY KEY (`ROW_ID`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

CREATE TABLE `c1fg_pl_node` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  `POOL_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  `COMPANY_ID` decimal(18,0) DEFAULT '-1',
  PRIMARY KEY (`ROW_ID`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;


CREATE TABLE `c1fg_pl_account` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  `NODE_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  PRIMARY KEY (`ROW_ID`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

CREATE TABLE `c1fg_pl_subsidiary` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  `ACCOUNT_ID` decimal(18,0) NOT NULL DEFAULT '-1',
  `FISCAL_DATE` date DEFAULT NULL,
  `DR_AMOUNT` decimal(16,2) NOT NULL DEFAULT '0.00' ,
  PRIMARY KEY (`ROW_ID`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;


CREATE TABLE `c1md_company` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' ,
  `SYS_ID` decimal(18,0) NOT NULL DEFAULT '-1' ,
  PRIMARY KEY (`ROW_ID`)
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

#---------------------------------------------------
SELECT B.company_id,
       '上划日' ud_type,
       2 sort_no,
       '合计' fiscal_date,
       DATE_FORMAT('2023-06-06', '%Y-%m-%d') fiscal_date,
       C.pl_amount
  FROM c1fg_pool A
 INNER JOIN c1fg_pl_node B
    ON A.row_id = B.pool_id
  LEFT JOIN (SELECT c.node_id, SUM(d.dr_amount) pl_amount
               FROM c1fg_pool          a,
                    c1fg_pl_node       b,
                    c1fg_pl_account    c,
                    c1fg_pl_subsidiary d
              WHERE a.row_id = b.pool_id
                AND b.row_id = c.node_id
                AND c.row_id = d.account_id
                AND b.company_id IN
                    (SELECT t1.row_id
                       FROM c1md_company t1, c1md_company t2
                      WHERE t1.sys_id = t2.sys_id)
              GROUP BY c.node_id) C
ON B.row_id = C.node_id
ORDER BY B.company_id;



DROP TABLE c1md_company;
DROP TABLE c1fg_pl_subsidiary;
DROP TABLE c1fg_pl_account;
DROP TABLE c1fg_pl_node;
DROP TABLE c1fg_pool;

DROP DATABASE issue1861_test;
"""

SCRIPT_DATE_FORMATS = """--source include/have_tianmu.inc

--echo #
--echo # Test of date format functions
--echo #

--disable_warnings
DROP DATABASE IF EXISTS date_formats_test;
--enable_warnings

CREATE DATABASE date_formats_test;
USE date_formats_test;

# Test of str_to_date

# PS doesnot support fractions of a second
select str_to_date(concat('15-01-2001',' 2:59:58.999'),
	           concat('%d-%m-%Y',' ','%H:%i:%s.%f'));
select STR_TO_DATE('2004.12.12 22.30.61','%Y.%m.%d %T');

SET sql_mode = 'STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
create table t1 (date char(30), format char(30) not null);
insert into t1 values
('2003-01-02 10:11:12', '%Y-%m-%d %H:%i:%S'),
('03-01-02 8:11:2.123456', '%y-%m-%d %H:%i:%S.%#'),
#bug1495('0003-01-02 8:11:2.123456', '%Y-%m-%d %H:%i:%S.%#'),
('03-01-02 8:11:2.123456',   '%Y-%m-%d %H:%i:%S.%#'),
('2003-01-02 10:11:12 PM', '%Y-%m-%d %h:%i:%S %p'),
#bug1495('2003-01-02 01:11:12.12345AM', '%Y-%m-%d %h:%i:%S.%f%p'),
#bug1495('2003-01-02 02:11:12.12345AM', '%Y-%m-%d %h:%i:%S.%f %p'),
#bug1495('2003-01-02 12:11:12.12345 am', '%Y-%m-%d %h:%i:%S.%f%p'),
('2003-01-02 11:11:12Pm', '%Y-%m-%d %h:%i:%S%p'),
('10:20:10', '%H:%i:%s'),
('10:20:10', '%h:%i:%s.%f'),
('10:20:10', '%T'),
('10:20:10AM', '%h:%i:%s%p'),
('10:20:10AM', '%r'),
#bug1495('10:20:10.44AM', '%h:%i:%s.%f%p'),
('15-01-2001 12:59:58', '%d-%m-%Y %H:%i:%S'),
('15 September 2001', '%d %M %Y'),
('15 SEPTEMB 2001', '%d %M %Y'),
('15 MAY 2001', '%d %b %Y'),
('15th May 2001', '%D %b %Y'),
('Sunday 15 MAY 2001', '%W %d %b %Y'),
('Sund 15 MAY 2001', '%W %d %b %Y'),
('Tuesday 00 2002', '%W %U %Y'),
('Thursday 53 1998', '%W %u %Y'),
('Sunday 01 2001', '%W %v %x'),
('Tuesday 52 2001', '%W %V %X'),
('060 2004', '%j %Y'),
('4 53 1998', '%w %u %Y'),
('15-01-2001', '%d-%m-%Y %H:%i:%S'),
('15-01-20', '%d-%m-%y'),
('15-2001-1', '%d-%Y-%c');

select date,format,str_to_date(date, format) as str_to_date from t1;
# Use as a string
select date,format,concat('',str_to_date(date, format)) as con from t1;
# Use as datetime
select date,format,cast(str_to_date(date, format) as datetime) as datetime from t1;
select date,format,DATE(str_to_date(date, format)) as date2 from t1;
select date,format,TIME(str_to_date(date, format)) as time from t1;
select date,format,concat(TIME(str_to_date(date, format))) as time2 from t1;
# Test small bug in %f handling
select concat('',str_to_date('8:11:2.123456 03-01-02','%H:%i:%S.%f %y-%m-%d'));

# Test wrong dates or converion specifiers

truncate table t1;
insert into t1 values
('2003-01-02 10:11:12 PM', '%Y-%m-%d %H:%i:%S %p'),
('2003-01-02 10:11:12.123456', '%Y-%m-%d %h:%i:%S %p'),
('2003-01-02 10:11:12AM', '%Y-%m-%d %h:%i:%S.%f %p'),
('2003-01-02 10:11:12AN', '%Y-%m-%d %h:%i:%S%p'),
('2003-01-02 10:11:12 PM', '%y-%m-%d %H:%i:%S %p'),
('10:20:10AM', '%H:%i:%s%p'),
('15 Septembei 2001', '%d %M %Y'),
('15 Ju 2001', '%d %M %Y'),
('Sund 15 MA', '%W %d %b %Y'),
('Thursdai 12 1998', '%W %u %Y'),
('Sunday 01 2001', '%W %v %X'),
('Tuesday 52 2001', '%W %V %x'),
('Tuesday 52 2001', '%W %V %Y'),
('Tuesday 52 2001', '%W %u %x'),
('7 53 1998', '%w %u %Y'),
(NULL, get_format(DATE,'USA'));
select date,format,str_to_date(date, format) as str_to_date from t1;
select date,format,concat(str_to_date(date, format),'') as con from t1;

# Test 'maybe' date formats and 'strange but correct' results

truncate table t1;
insert into t1 values
('10:20:10AM', '%h:%i:%s'),
('2003-01-02 10:11:12', '%Y-%m-%d %h:%i:%S'),
('03-01-02 10:11:12 PM', '%Y-%m-%d %h:%i:%S %p');

select date,format,str_to_date(date, format) as str_to_date from t1;
select date,format,concat(str_to_date(date, format),'') as con from t1;
drop table t1;

# Test of date_format()
create table t1 (d date);
insert into t1 values ('2004-07-14'),('2005-07-14');
select date_format(d,"%d") from t1 order by 1;
drop table t1;

# PS doesnot support fractional seconds
select str_to_date("2003-....01ABCD-02 10:11:12.0012", "%Y-%.%m%@-%d %H:%i:%S.%f") as a;

SET sql_mode = 'NO_ENGINE_SUBSTITUTION';
#bug1495create table t1 select str_to_date("2003-01-02 10:11:12.0012", "%Y-%m-%d %H:%i:%S.%f") as f1,
#bug1495			str_to_date("10:11:12.0012", "%H:%i:%S.%f") as f2,
#bug1495			str_to_date("2003-01-02", "%Y-%m-%d") as f3,
#bug1495			str_to_date("02", "%d") as f4, str_to_date("02 10", "%d %H") as f5;
#bug1495describe t1;
#bug1495select * from t1;

#bug1495create table t1 select "02 10" as a, "%d %H" as b;
#bug1495select str_to_date(a,b) from t1;
#bug1495create table t2 select str_to_date(a,b) from t1;
#bug1495describe t2;
select str_to_date("2003-01-02 10:11:12.0012", "%Y-%m-%d %H:%i:%S.%f") as f1,
       str_to_date("2003-01-02 10:11:12.0012", "%Y-%m-%d %H:%i:%S") as f2,
       str_to_date("2003-01-02", "%Y-%m-%d") as f3,
       str_to_date("02 10:11:12", "%d %H:%i:%S.%f") as f4,
       str_to_date("02 10:11:12", "%d %H:%i:%S") as f5,
       str_to_date("02 10", "%d %f") as f6;
select str_to_date("2003-01-02 10:11:12.0012ABCD", "%Y-%m-%d %H:%i:%S.%f") as f1,
       addtime("-01:01:01.01 GGG", "-23:59:59.1") as f2,
       microsecond("1997-12-31 23:59:59.01XXXX") as f3;

select str_to_date("2003-04-05  g", "%Y-%m-%d") as f1,
       str_to_date("2003-04-05 10:11:12.101010234567", "%Y-%m-%d %H:%i:%S.%f") as f2;

create table t1 (f1 datetime);
insert into t1 (f1) values ("2005-01-01");
insert into t1 (f1) values ("2005-02-01");
select date_format(f1, "%m") as d1, date_format(f1, "%M") as d2 from t1 order by date_format(f1, "%M");
drop table t1;

CREATE TABLE t1 (a varchar(10), PRIMARY KEY (a));
CREATE TABLE t2 (a varchar(10), b date, PRIMARY KEY(a,b));
CREATE TABLE t3 (a varchar(10), b TIME, PRIMARY KEY(a,b));
INSERT INTO t1 VALUES ('test1');
INSERT INTO t2 VALUES
('test1','2016-12-13'),('test1','2016-12-14'),('test1','2016-12-15');
INSERT INTO t3 VALUES
('test1','11:13:14'), ('test1','12:13:14'), ('test1','10:13:14');

SELECT *
FROM t1 LEFT JOIN t2
  ON t2.a = 'test1' AND t2.b = '20161213'
WHERE t1.a = 'test1';

SELECT *
FROM t1 LEFT JOIN t2 IGNORE INDEX(PRIMARY)
  ON t2.a = 'test1' AND t2.b = '20161213'
WHERE t1.a = 'test1';

SELECT b, b = '20161213',
       CASE b WHEN '20161213' then 'found' ELSE 'not found' END FROM t2;
SELECT b, b IN ('20161213'), b in ('20161213', 0) FROM t2;

#Uses datatype TIME
SELECT b, b = '121314',
       CASE b WHEN '121314' then 'found' ELSE 'not found' END FROM t3 order by 1;
SELECT b, b in ('121314'), b in ('121314', 0) FROM t3 order by 1;

#clean UP
drop database date_formats_test;

"""


SCRIPT_ISSUE975 = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue975_test;
--enable_warnings

CREATE DATABASE issue975_test;

USE issue975_test;

CREATE TABLE t1 (date CHAR(30), format CHAR(30)) engine=tianmu default CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;
INSERT INTO t1 VALUES
('10:20:10', '%H:%i:%s'),
('10:20:10', '%h:%i:%s.%f'),
('10:20:10', '%T'),
('10:20:10AM', '%h:%i:%s%p'),
('10:20:10AM', '%r'),
('10:20:10.44AM', '%h:%i:%s.%f%p'),
('10:20:10PM', '%h:%i:%s%p'),
('10:20:10PM', '%r'),
('10:20:10.44PM', '%h:%i:%s.%f%p');
SELECT date, format, STR_TO_DATE(date, format) as str_to_date FROM t1;
show variables like '%sql_mode%';
drop table t1;

DROP DATABASE issue975_test;
"""


SCRIPT_SHOW_DB_TABLE = """--source include/have_tianmu.inc

--echo #
--echo # Test show databases and tables
--echo # Author: shiz
--echo #

--disable_warnings
DROP DATABASE IF EXISTS show_test1;
DROP DATABASE IF EXISTS show_test2;
--enable_warnings

CREATE DATABASE show_test1;
CREATE SCHEMA show_test2;
--sorted_result
SHOW DATABASES LIKE 'show%';
--sorted_result
SHOW SCHEMAS LIKE 'show%';

SHOW TABLES IN show_test1;
USE show_test2;
--sorted_result
SHOW TABLES;

CREATE TABLE show_test1.t1 (id INT);
CREATE TABLE show_test1.t2 (id INT);
--sorted_result
SHOW TABLES IN show_test1;
USE show_test1;
--sorted_result
SHOW TABLES;

USE show_test2;
CREATE TABLE t1 (id INT);
CREATE TABLE t2 (id INT);
CREATE TEMPORARY TABLE tmp1 (id INT);
--error 1050
CREATE TEMPORARY TABLE tmp1 (id INT);
--sorted_result
SHOW TABLES;
--sorted_result
SHOW TABLES IN show_test2;

# Clean up
DROP DATABASE show_test1;
DROP DATABASE show_test2;
"""

SCRIPT_ALTER_V1_CROSSDB = """--source include/have_tianmu.inc

--echo #
--echo # Test of alter table
--echo #

--disable_warnings
DROP DATABASE IF EXISTS alter_table_v1_test;
--enable_warnings

CREATE DATABASE alter_table_v1_test;
USE alter_table_v1_test;


create table t1 (bandID MEDIUMINT NOT NULL PRIMARY KEY, payoutID SMALLINT NOT NULL);
insert into t1 (bandID,payoutID) VALUES (1,6),(2,6),(3,4),(4,9),(5,10),(6,1),(7,12),(8,12);
alter table t1 add column new_col int, order by payoutid,bandid;
select * from t1;
alter table t1 order by bandid,payoutid;
select * from t1;
drop table t1;

--echo #
--echo # Test of ALTER TABLE ... ORDER BY
--echo #

create table t1 (n int);
insert into t1 values(9),(3),(12),(10);
alter table t1 order by n;
select * from t1;
drop table t1;

--echo #
--echo # Drop and add an auto_increment column
--echo #

create table t1 (i int not null auto_increment primary key);
insert into t1 values (null),(null),(null),(null);
#alter table t1 drop i,add i int unsigned not null auto_increment, drop primary key, add primary key (i);
select * from t1;
drop table t1;

--echo #
--echo # 'alter table t1 rename alter_table_v1_test1.t1' silently drops alter_table_v1_test1.t1 
--echo # if it exists
--echo #

create table t1 (name char(15));
insert into t1 (name) values ("current");
create database alter_table_v1_test1;
create table alter_table_v1_test1.t1 (name char(25));
insert into alter_table_v1_test1.t1 (name) values ("alter_table_v1_test1");
select * from t1;
select * from alter_table_v1_test1.t1;
--error ER_TABLE_EXISTS_ERROR
alter table t1 rename alter_table_v1_test1.t1;
select * from t1;
select * from alter_table_v1_test1.t1;
drop table t1;
drop database alter_table_v1_test1;
"""


SCRIPT_TYPE_TIMESTAMP_TZ = """--source include/have_tianmu.inc

--echo #
--echo # Test cases for the TIMESTAMP datatype
--echo #

# Test insert/literals/microseconds
--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

## Test the effect of changing timezones on timestamp values
CREATE TABLE ctimestamp (a timestamp);
SET time_zone='-5:00';
INSERT INTO ctimestamp VALUES ('2019-01-01 01:02:03'), ('2019-05-05 01:01:01');
SET time_zone='+1:00';
SELECT a FROM ctimestamp ORDER BY a;
SET time_zone='-2:00';
SELECT a FROM ctimestamp ORDER BY a;

## Test insert
CREATE TABLE ctimestamp2 (a timestamp DEFAULT 0);
INSERT INTO ctimestamp2 SELECT * FROM ctimestamp;
SELECT a FROM ctimestamp2 ORDER BY a;

## Test literals
CREATE TABLE ctimestamp3 (a timestamp);
INSERT INTO ctimestamp3 VALUES (19940101), (940101),
(19940101010203), (940101010203), ('1994-01-01T01:02:03');
SELECT a FROM ctimestamp3 ORDER BY a;

## Test microseconds error
#CREATE TABLE ctimestamp4 (a timestamp(6) default 0);
#INSERT INTO ctimestamp4 VALUES (0), ('2019-01-01 01:01:01.123456');
#SELECT a, microsecond(a) FROM ctimestamp4 ORDER BY a;

--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

CREATE TABLE ctimestamp (a timestamp);
SET time_zone='+0:00';
INSERT INTO ctimestamp VALUES ('2019-01-02 00:02:03'),
('2019-01-02 01:02:03'), ('2019-01-02 10:11:12');
SET time_zone='+1:00';

SELECT a, a BETWEEN '2019-01-02 02:00:00' AND '2019-01-02 13:00:00'
FROM ctimestamp ORDER BY a;

"""


SCRIPT_TYPE_TIMESTAMP_FULL = """--source include/have_tianmu.inc

--echo #
--echo # Test cases for the TIMESTAMP datatype
--echo #

# Test insert/literals/microseconds
--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

## Test the effect of changing timezones on timestamp values
CREATE TABLE ctimestamp (a timestamp);
SET time_zone='-5:00';
INSERT INTO ctimestamp VALUES ('2019-01-01 01:02:03'), ('2019-05-05 01:01:01');
SET time_zone='+1:00';
SELECT a FROM ctimestamp ORDER BY a;
SET time_zone='-2:00';
SELECT a FROM ctimestamp ORDER BY a;

## Test insert
CREATE TABLE ctimestamp2 (a timestamp DEFAULT 0);
INSERT INTO ctimestamp2 SELECT * FROM ctimestamp;
SELECT a FROM ctimestamp2 ORDER BY a;

## Test literals
CREATE TABLE ctimestamp3 (a timestamp);
INSERT INTO ctimestamp3 VALUES (19940101), (940101),
(19940101010203), (940101010203), ('1994-01-01T01:02:03');
SELECT a FROM ctimestamp3 ORDER BY a;

## Test microseconds error
#CREATE TABLE ctimestamp4 (a timestamp(6) default 0);
#INSERT INTO ctimestamp4 VALUES (0), ('2019-01-01 01:01:01.123456');
#SELECT a, microsecond(a) FROM ctimestamp4 ORDER BY a;

--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

CREATE TABLE ctimestamp (a timestamp);
SET time_zone='+0:00';
INSERT INTO ctimestamp VALUES ('2019-01-02 00:02:03'),
('2019-01-02 01:02:03'), ('2019-01-02 10:11:12');
SET time_zone='+1:00';

SELECT a, a BETWEEN '2019-01-02 02:00:00' AND '2019-01-02 13:00:00'
FROM ctimestamp ORDER BY a;

#SELECT a, IF(a < '2019-01-02 02:00:00', 'yes', 'no'),
#ADDTIME(a, '1:1:1'), STR_TO_DATE(a, '%Y-%m-%d %H:%i:%s'),
#EXTRACT(DAY_HOUR FROM a), EXTRACT(MINUTE_SECOND FROM a),
#TIME_FORMAT(a, '%H:\\%i:\\%s'), a RLIKE '02:03', IFNULL(NULL, a),
#CASE a WHEN '2019-01-02 01:02:03' THEN 'found' WHEN '2019-01-02 11:11:12'
#THEN 'found2' ELSE 'notfound' END, CHAR_LENGTH(a),
#CAST(a AS UNSIGNED INT), CAST(a AS CHAR), CAST(a AS DATE),
#TIME(CAST(a AS DATETIME)), TIME(COALESCE(NULL, a)), HEX(a),
#NULLIF(a, '2019-01-02 01:02:03'), TIMEDIFF(a, '2019-01-01 01:02:03')
#FROM ctimestamp ORDER BY a;

INSERT INTO ctimestamp VALUES ('2020-01-03 12:12:12'),
('2020-05-06 12:12:12'), ('2020-10-28 12:12:12');

SELECT a, DAYNAME(a), DAYOFWEEK(a), DATE_FORMAT(a, '%W %M %Y'),
MONTHNAME(a), DATE(a), YEARWEEK(a), DAYOFYEAR(a), YEAR(a),
a + INTERVAL 1 DAY, TIMESTAMPDIFF(DAY, a, '2020-01-01'),
LAST_DAY(a), TRUNCATE(a, -2), a IN ('2019-01-02 01:02:03', a),
TO_DAYS(a), DAY(a), WEEK(a), WEEKDAY(a), GREATEST(a, '2020-07-01'),
MONTH(a), QUARTER(a), DATE_ADD(a, INTERVAL 1 SECOND)
FROM ctimestamp WHERE a > '2020-01-01' ORDER BY a;

SELECT UNIX_TIMESTAMP(a), TIME_TO_SEC(a), CEIL(a),
CAST(LEAST(a, '2019-03-03 00:00:00') AS DATETIME),
ROUND(a), SECOND(a), MINUTE(a), HOUR(a), FLOOR(a)
FROM ctimestamp ORDER BY a;

--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

CREATE TABLE ctimestamp (a timestamp, b int);
SET time_zone='+0:00';
INSERT INTO ctimestamp VALUES ('2019-01-03 12:12:12', 1),
('2019-01-04 12:12:12', 2), ('2019-01-03 12:12:12', 4),
('2019-01-03 12:12:12', 2), ('2019-01-04 12:12:12', 1);

## Test SUM

SELECT a, b, SUM(b)
FROM ctimestamp;

## Test MAX

SELECT a, b, MAX(a)
FROM ctimestamp;

# Test aggregate functions
--disable_warnings
DROP DATABASE IF EXISTS timestamp_test;
--enable_warnings

CREATE DATABASE timestamp_test;
USE timestamp_test;

CREATE TABLE ctimestamp (a int, b timestamp);
INSERT INTO ctimestamp VALUES (1, 20190101), (1, 20200202),
(2, 20190202), (2, 20200202), (2, 20190101);

# Test count(*)
SELECT b, count(*) FROM ctimestamp GROUP BY b ORDER BY b;

# Test max/min
SELECT b, max(a), min(a) FROM ctimestamp GROUP BY b ORDER BY b;
SELECT a, max(b), min(b) FROM ctimestamp GROUP BY a ORDER BY a;

# Cleanup
DROP DATABASE timestamp_test;
"""


SCRIPT_ISSUE415F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue415_test;
--enable_warnings

CREATE DATABASE issue415_test;

USE issue415_test;

--echo #
--echo # fix issue415
--echo #

CREATE TABLE `select_base_with_primary_key` (
  `pk` bigint(11) NOT NULL AUTO_INCREMENT,
  `varchar_test` varchar(255) DEFAULT NULL,
  `integer_test` int(11) DEFAULT NULL,
  `char_test` char(255) DEFAULT NULL,
  `tinyint_test` tinyint(4) DEFAULT NULL,
  `tinyint_1bit_test` tinyint(1) DEFAULT NULL,
  `smallint_test` smallint(6) DEFAULT NULL,
  `mediumint_test` mediumint(9) DEFAULT NULL,
  `bigint_test` bigint(20) DEFAULT NULL,
  `double_test` double DEFAULT NULL,
  `decimal_test` decimal(10,0) DEFAULT NULL,
  `date_test` date DEFAULT NULL,
  `time_test` time DEFAULT NULL,
  `datetime_test` datetime DEFAULT NULL,
  `timestamp_test` timestamp NULL DEFAULT NULL ON UPDATE CURRENT_TIMESTAMP,
  `year_test` year(4) DEFAULT NULL,
  PRIMARY KEY (`pk`)
) ENGINE=TIANMU DEFAULT CHARSET=gbk;
insert into select_base_with_primary_key values (11, 'abcde', 123, 'char', 3, 1, 23, 32, 332, 1.4, 25, '2017-11-11', '11:11:11', '2017-11-11 11:11:11','2017-11-11 11:11:11', 2017);
select 'aa' as ag_column1,  !( tinyint_1bit_test )as ag_column2, 1 as ag_column3,min((smallint_test +  smallint_test) =11)as ag_column_fun  from select_base_with_primary_key    GROUP BY  ag_column1,ag_column2  asc,ag_column3   having ag_column_fun<= 37 order by  ag_column1    ,ag_column2    asc,ag_column3    asc,ag_column_fun;
drop table select_base_with_primary_key;

DROP DATABASE issue415_test;
"""

SCRIPT_ISSUE475F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue475_test;
--enable_warnings

CREATE DATABASE issue475_test;

USE issue475_test;

create table jl (date_test date) ENGINE=TIANMU;
insert into jl values ('2015-11-12');
select ADDTIME(date_test, '1 1:1:1.00002') from jl;
drop table jl;

DROP DATABASE issue475_test;
"""

SCRIPT_ISSUE429F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue429_test;
--enable_warnings

CREATE DATABASE issue429_test;

USE issue429_test;

create table tt (val time) ENGINE=TIANMU;
insert into tt values ('06:34:12'), ('13:23:33');
select * from tt where DATE(TIMESTAMP(val)) = CURDATE();
select * from tt where DATE(TIMESTAMP(val, val)) = CURDATE();
drop table tt;

DROP DATABASE issue429_test;
"""

SCRIPT_ISSUE845F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue845_test;
--enable_warnings

CREATE DATABASE issue845_test;

USE issue845_test;

--disable_warnings

DROP TABLE IF EXISTS test_timestamp;

CREATE TABLE test_timestamp (t timestamp);
INSERT INTO test_timestamp VALUES ('2019-01-02 00:01:02'),
                              ('2019-01-02 01:02:03'),
                              ('2019-01-02 02:03:04'),
                              ('2019-01-02 03:05:06'),
                              ('2019-01-02 04:07:08');

#EXTRACT SELECT

SELECT EXTRACT(DAY_HOUR FROM t), EXTRACT(MINUTE_SECOND FROM t) FROM test_timestamp;

#IF DATA IS NULL
DROP TABLE test_timestamp;

CREATE TABLE test_timestamp (t timestamp);

SELECT EXTRACT(DAY_HOUR FROM t), EXTRACT(MINUTE_SECOND FROM t) FROM test_timestamp;

#EXTRACT SELECT WITHOUT TABLE

SELECT EXTRACT(YEAR FROM '2019-07-02');

SELECT EXTRACT(YEAR_MONTH FROM '2019-07-02 01:02:03');

SELECT EXTRACT(DAY_MINUTE FROM '2019-07-02 01:02:03');

SELECT EXTRACT(MICROSECOND FROM '2003-01-02 10:30:00.000123');

#DROP TABLE

DROP TABLE test_timestamp;

DROP DATABASE issue845_test;
"""

SCRIPT_ISSUE848F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue848_test;
--enable_warnings

CREATE DATABASE issue848_test;
USE issue848_test;

CREATE TABLE `t1` (
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_text` text COMMENT 'text') 
ENGINE=TIANMU DEFAULT CHARSET=GBK;

show create table t1;

insert into t1(c_char,c_varchar,c_text) values(x'D6D0B9FA',x'D5E3BDAD',x'BABCD6DD');

ALTER TABLE t1 DEFAULT CHARACTER SET gbk;
show create table t1;

ALTER TABLE t1 CHARACTER SET latin1;
show create table t1;

ALTER TABLE t1  ADD COLUMN ex_column char(30) AFTER c_text;
show create table t1;

ALTER TABLE t1 MODIFY c_char char(15) CHARACTER SET UTF8MB4;
ALTER TABLE t1 MODIFY c_varchar char(15) CHARACTER SET UTF8MB4;
ALTER TABLE t1 MODIFY c_text char(15) CHARACTER SET UTF8MB4;
show create table t1;
select hex(c_char),hex(c_varchar),hex(c_text) from t1;

ALTER TABLE t1 CHANGE c_char c_char char(10) CHARACTER SET GBK;
ALTER TABLE t1 CHANGE c_varchar c_varchar char(10) CHARACTER SET GBK;
ALTER TABLE t1 CHANGE c_text c_text char(10) CHARACTER SET GBK;
select hex(c_char),hex(c_varchar),hex(c_text) from t1;
show create table t1;

DROP TABLE t1;
DROP DATABASE issue848_test;
"""

SCRIPT_ISSUE962F = """--source include/have_tianmu.inc
 

--disable_query_log

CREATE DATABASE test_issue962_db;

USE test_issue962_db;

CREATE TABLE t0(c0 INT)engine=tianmu;
CREATE TABLE t1(c0 INT)engine=tianmu;
INSERT INTO t0 VALUES (NULL);

--enable_query_log
SELECT t0.c0 FROM t0 LEFT JOIN t1 ON t0.c0>=t1.c0 WHERE (CONCAT_WS(t0.c0, t1.c0) IS NULL);

--disable_query_log
DROP DATABASE test_issue962_db;
--enable_query_log

"""

SCRIPT_ISSUE995F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue995_test;
--enable_warnings

CREATE DATABASE issue995_test;

USE issue995_test;

CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE);

INSERT INTO t1 VALUES ('', NULL, '0-0-0', NULL),
('a', 12, '1212-12-12', 1.19691E+100),
('b', 13, '1313-3-13 13:13:13', 2.1961E+18),
('c', 14, '1414-4-14', 0.16191),
('d', 15, '2015-5-15 15:15:15', 1.971917);

SELECT CONVERT(c, TIME) FROM t1;
DROP TABLE t1;

DROP DATABASE issue995_test;
"""

SCRIPT_ISSUE502_2F = """--source include/have_tianmu.inc
create database test_tmp;
use test_tmp;
create table t1(a1 integer primary key, b1 integer,c1 varchar(255) charset utf8 collate utf8_bin not null) engine=tianmu default CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;
create table t2(a2 integer primary key, b2 integer,c2 varchar(255) charset utf8 collate utf8_bin not null) engine=tianmu default CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;
create view v as select * from t1 join t2 on true;
insert into v(a1,b1,c1) values (11, 0, "你好，世界!Hello,world!") on duplicate key update b1=b1+1,c1="杭州亚运会，杭州，hangzhou！";
insert into v(a1,b1,c1) values (11, 0, "你好，世界!Hello,world!") on duplicate key update b1=b1+1,c1="杭州亚运会，杭州，hangzhou！";
insert into v(a2,b2,c2) values (21, 0, "谢谢你！Thank you") on duplicate key update b2=b2+1,c2="不客气，you are welcome~";
insert into v(a2,b2,c2) values (21, 0, "谢谢你！Thank you") on duplicate key update b2=b2+1,c2="不客气，you are welcome~";
select * from v;
drop view v;
drop table t2;
drop table t1;
drop database test_tmp;
"""


SCRIPT_LZ4F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS lz4_test;
--enable_warnings

CREATE DATABASE lz4_test;

USE lz4_test;

CREATE TABLE `column_type_test` (
 `c_tinyint` tinyint(4) DEFAULT NULL COMMENT 'lz4',
  `c_smallint` smallint(6) DEFAULT NULL COMMENT 'lz4',
  `c_mediumint` mediumint(9) DEFAULT NULL COMMENT 'lz4',
  `c_int` int(11) DEFAULT NULL COMMENT 'lz4',
  `c_bigint` bigint(20) DEFAULT NULL COMMENT 'lz4',
  `c_float` float DEFAULT NULL COMMENT 'lz4',
  `c_double` double DEFAULT NULL COMMENT 'lz4',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'lz4',
  `c_date` date DEFAULT NULL COMMENT 'lz4',
  `c_datetime` datetime DEFAULT NULL COMMENT 'lz4',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'lz4',
  `c_time` time DEFAULT NULL COMMENT 'lz4',
  `c_char` char(10) DEFAULT NULL COMMENT 'lz4',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'lz4',
  `c_blob` blob COMMENT 'lz4',
  `c_text` text COMMENT 'lz4',
  `c_longblob` longblob COMMENT 'lz4'
) ENGINE=TIANMU;

insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(100,100,100,100,100,5.2,10.88,100.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(101,101,101,101,101,5.2,10.88,101.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(102,102,102,102,102,5.2,10.88,102.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(103,103,103,103,103,5.2,10.88,103.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');
insert into column_type_test(c_tinyint,c_smallint,c_mediumint,c_int,c_bigint,c_float,c_double,c_decimal,c_date,c_datetime,c_timestamp,c_time,c_char,c_varchar,c_text)
values(104,104,104,104,104,5.2,10.88,104.083,'2016-02-25','2016-02-25 10:20:01','2016-02-25 05:20:01','10:20:01','stoneatom','hello','bcdefghijklmn');

select * from column_type_test;
drop table column_type_test;

DROP DATABASE lz4_test;
"""

SCRIPT_LOAD_DATESF = """--disable_warnings
drop table if exists t1;
--enable_warnings

create table t1 (a date, b date, c date not null, d date)engine=TIANMU;
load data infile '../../std_data/loaddata1.dat' into table t1 fields terminated by ',';
load data infile '../../std_data/loaddata1.dat' into table t1 fields terminated by ',' IGNORE 2 LINES;
SELECT * from t1;
show create table t1;
drop table t1;
"""

SCRIPT_FUNC_BITF = """--source include/have_tianmu.inc

--echo #
--echo # Test func bit
--echo #

--disable_warnings
DROP DATABASE IF EXISTS func_bit;
--enable_warnings
CREATE DATABASE func_bit;
USE func_bit;

# DECIMAL(17,0) input

CREATE TABLE t1 (a DECIMAL(17,0) NOT NULL);
INSERT INTO t1 VALUES (999999999999999);
INSERT INTO t1 VALUES (28446744073709);
INSERT INTO t1 VALUES (-284467440737);
INSERT INTO t1 VALUES (-99999999999999);
--disable_warnings
SELECT a, a & a, a | a, a^0, a<<2, a<<0, a>>1, bit_count(a) FROM t1;
--enable_warnings
DROP TABLE t1;

# DECIMAL(10,1) input

CREATE TABLE t1 (a DECIMAL(10,1) NOT NULL);
INSERT INTO t1 VALUES (999999999.9);
INSERT INTO t1 VALUES (3.5);
INSERT INTO t1 VALUES (3.4);
INSERT INTO t1 VALUES (2.9);
INSERT INTO t1 VALUES (-2.9);
INSERT INTO t1 VALUES (-3.4);
INSERT INTO t1 VALUES (-3.5);
INSERT INTO t1 VALUES (-999999999.9);
--disable_warnings
SELECT a, a & a, a | a, a^0, a<<2, a>>2, bit_count(a) FROM t1;
--enable_warnings
DROP TABLE t1;

# DECIMAL(10,0) input

CREATE TABLE t1 (a DECIMAL(10,0) NOT NULL);
INSERT INTO t1 VALUES (9999999999);
INSERT INTO t1 VALUES (3);
INSERT INTO t1 VALUES (-3);
INSERT INTO t1 VALUES (-9999999999);
--disable_warnings
SELECT a, a & a, a | a, a^0, a<<2, a<<0, a>>1, bit_count(a) FROM t1;
--enable_warnings
DROP TABLE t1;

# VARCHAR input

CREATE TABLE t1 (a VARCHAR(30) NOT NULL);
INSERT INTO t1 VALUES ('2.9');
INSERT INTO t1 VALUES ('18446744073709551610');
#bug1173 SELECT a, a & a, a | a, a^0, a<<1, a<<0, a>>1, bit_count(a) FROM t1;
DROP TABLE t1;

# Double input

CREATE TABLE t1 (a DOUBLE NOT NULL);
INSERT INTO t1 VALUES (2.9);
INSERT INTO t1 VALUES (10e30);
--disable_warnings
SELECT a, a & a, a | a, a^0, a<<2, a<<0, a>>1, bit_count(a) FROM t1;
--enable_warnings
DROP TABLE t1;

# Time input

CREATE TABLE t1 (a TIME(1) NOT NULL);
INSERT INTO t1 VALUES ('00:00:02.9');
INSERT INTO t1 VALUES ('800:00:02.9');
INSERT INTO t1 VALUES ('800:00:02');
INSERT INTO t1 VALUES ('-800:00:02.9');
#bug1173 SELECT a, a & a, a | a, a^0, a<<1, a<<0, a>>1, bit_count(a) FROM t1;
DROP TABLE t1;

# Datetime input

CREATE TABLE t1 (a DATETIME(1) NOT NULL);
INSERT INTO t1 VALUES ('2001-01-01 00:00:02.9');
INSERT INTO t1 VALUES ('2001-01-01 23:59:59.9');
INSERT INTO t1 VALUES ('9999-12-31 23:59:59.9');
#select * from t1;
#bug1173 SELECT a, a & a, a | a, a^0, a<<1, a<<0, a>>1, bit_count(a) FROM t1;
DROP TABLE t1;


# Bit shift for more than 63 bits

CREATE TABLE t1 (a INT NOT NULL);
INSERT INTO t1 VALUES (63),(64),(65);
SELECT a, 1<<a,1>>a FROM t1;
DROP TABLE t1;

# set when using BIT OR and BIT AND functions in WHERE

CREATE TABLE t1 (a DECIMAL(18,2));
INSERT INTO t1 VALUES (3.4);
SELECT a, a|4, a&4 FROM t1;
SELECT * FROM t1 WHERE (a|4) <> a;
SELECT * FROM t1 WHERE (a&4) <> a;
DROP TABLE t1;

# Clean up
DROP DATABASE func_bit;
"""

SCRIPT_ISSUE301F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue301_test;
--enable_warnings

CREATE DATABASE issue301_test;

USE issue301_test;

--disable_warnings
drop table if exists t1;
--enable_warnings

CREATE TABLE t1 (a INT NOT NULL, b INT)engine=tianmu;
INSERT INTO t1 VALUES (1, 1),(1,2),(1,3);
select * from t1 where 1=1 and 1=1 or b>2;
select * from t1 where b>2 or 1=2;
select * from t1 where b>2 or 1<2;
select * from t1 where b>2 or 1>2;
select * from t1 where b>2 or 1=1;
select * from t1 where b>2 or 1;
select * from t1 where b>2 or 0;
select * from t1 where ( 1> '1.1' ) or b>2;
select * from t1 where ( 1 > 1.1 ) or b>2;
select * from t1 where ( 1.2 > 1.1 ) or b>2;
select * from t1 where ( 1.2 >= 1.2 ) or b>2;
select * from t1 where ( 1.1 < 1.2 ) or b>2;
select * from t1 where ( 1.2 <= 1.2 ) or b>2;
select * from t1 where ( 'a' <= 'a' ) or b>2;
select * from t1 where ( a = b ) or b>2;
select * from t1 where ( a != b ) or b>2;
select * from t1 where ( a is null ) or b>2;
select * from t1 where ( null is null ) or b>2;
select * from t1 where ( 1 = 1 and 1 = 1 ) or b>2;
select * from t1 where ( 1 = 1 and 1 != 1 ) or b>2;
select * from t1 where ( 1 = 1 and 1 = 1 ) and b>2;
select * from t1 where ( 1 = 1 and 1 != 1 ) and b>2;
select * from t1 where ( 1 = 1 and 1 = 1 and 1 = 1 ) or b>2;
select * from t1 where ( 1 = 1 and 1 = 1 and 1 != 1 ) or b>2;
select * from t1 where ( a = a and 1 = 1 and 1 = 1 ) or b>2;
select * from t1 where ( a = a and 1 = 1 and 1 != 1 ) or b>2;
select * from t1 where ( 1 = 1 and 1 = 1 and 1 = 1 ) and b>2;
select * from t1 where ( 1 = 1 and 1 = 1 and 1 != 1 ) and b>2;
select * from t1 where ( a = a and 1 = 1 and 1 = 1 ) and b>2;
select * from t1 where ( a = a and 1 = 1 and 1 != 1 ) and b>2;
select * from t1 where ((((1=1) or (3=3)) and (3=3)) or ((1=100) and (5=a)));
select * from t1 where ((((1=1) or (3=3)) and (3=4)) or ((1=100) and (5=a)));
select * from t1 where ((((1=2) or (3=3)) and (3=3)) or ((1=100) and (5=a)));
select * from t1 where ((((1>2) or (3=3)) and (3=3)) or ((1=1) and (5=a)));
select * from t1 where ((((1=2) or (3=3)) and (3=1)) or ((1>1) and (5=a)));
select * from t1 where ((((1=2) or (3=3)) and (3!=1)) or ((1>1) and (5=a)));

drop table t1;

CREATE TABLE t1 (a INT NOT NULL, b INT)engine=tianmu;
INSERT INTO t1 VALUES (1, 1);
SELECT * FROM t1 WHERE (a=a AND a=a) OR b > 2;

drop table t1;

create table t1 (id int, value int) engine=tianmu;
create table t2 (id int, value int) engine=tianmu;

insert into t1 values (1,null);
insert into t2 values (1,null);

select t1.*, t2.*, t1.value<=>t2.value from t1, t2 where t1.id=t2.id and t1.id=1;
select * from t1 where id <=>id;
select * from t1 where value <=> value;
select * from t1 where id <=> value or value<=>id;

drop table t1,t2;

SET NAMES utf8;
CREATE TABLE diaries (
  created_at datetime,
  title varchar(256)
) engine=tianmu DEFAULT CHARSET=utf8;

INSERT INTO diaries VALUES ("1000-01-01 00:00:00", "The start");
INSERT INTO diaries VALUES ("2012-10-25 16:18:29", "Today is shiny day.");
INSERT INTO diaries VALUES ("9999-12-31 23:59:59", "The end");

SELECT *
       FROM diaries
       WHERE created_at = created_at or created_at = "2012-10-25 16:18:29";

DROP TABLE diaries;

CREATE TABLE tags (
  name VARCHAR(16) NOT NULL
)engine=tianmu;

INSERT INTO tags VALUES ('mroonga');
INSERT INTO tags VALUES ('mysql');
INSERT INTO tags VALUES ('');

SELECT * FROM tags WHERE name = "";
SELECT * FROM tags WHERE name=name or name = "";
SELECT * FROM tags WHERE 1=1 or name = "";
SELECT * FROM tags WHERE name=name and name = "";
SELECT * FROM tags WHERE 1=1 and name = "";
SELECT * FROM tags WHERE name != "";
SELECT * FROM tags WHERE name = name or name != "";
SELECT * FROM tags WHERE 1 = 1 or name != "";
SELECT * FROM tags WHERE name = name and name != "";
SELECT * FROM tags WHERE 1 = 1 and name != "";

DROP TABLE tags;

CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 TINYINT) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;
CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 SMALLINT) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;
CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 MEDIUMINT) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;
CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 INT) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;
CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 INTEGER) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;
CREATE TABLE t1(c1 VARCHAR(10), c2 VARCHAR(10), c3 BIGINT) engine=tianmu;
INSERT INTO t1 VALUES ('a','b',0), ('a','b',1), ('a','b',2), ('a','b',3), ('a','b',4), ('a','b',5), ('a','b',6), ('a','b',7), ('a','b',8), ('a','b',9); 
SELECT c1,c2,c3 FROM t1 ORDER BY c3 DESC LIMIT 1;
SELECT c1,MAX(c3) FROM t1 GROUP BY c1;
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(c3) FROM t1);
SELECT c1,c2,c3 FROM t1 WHERE c3=(SELECT MAX(t11.c3) FROM t1 AS t11 WHERE t1.c1 = t11.c1);
DROP TABLE t1;

CREATE TABLE t1 (t1_int INT, t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t3 (t3_int INT, t3_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t4 (t4_int INT, t4_char CHAR(5)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (NULL, ''),(1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'eee'),(11, 'nnn');
INSERT INTO t3 SELECT * FROM t2;
INSERT INTO t4 SELECT * FROM t1;

SELECT t1_int FROM t1 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) ORDER BY 1;
SELECT t1_int, t1_char FROM t1 WHERE NOT EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) ORDER BY t1_char;
SELECT * FROM t2 WHERE EXISTS (SELECT t1_int FROM t1 WHERE t1.t1_int = t2.t2_int) ORDER BY t2_int;
SELECT t1_char FROM t1 WHERE NOT EXISTS (SELECT t2_int FROM t2 WHERE t1.t1_int = t2.t2_int) ORDER BY t1_char;
SELECT t1_char FROM t1 WHERE EXISTS (SELECT 1 FROM t2 WHERE t2_int IS NULL) ORDER BY 1;
SELECT t1_char, t1_int FROM t1 WHERE EXISTS (SELECT 1 FROM t2 WHERE t2_int IS NULL) AND t1_int > 5 ORDER BY 1;

# cross engine
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t3_int FROM t3 WHERE t1.t1_int = t3.t3_int);
SELECT t1_int FROM t1 WHERE NOT EXISTS (SELECT t3_int FROM t3 WHERE t1.t1_int = t3.t3_int);
SELECT t3_int FROM t3 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t3.t3_int = t2.t2_int);
SELECT t3_int FROM t3 WHERE NOT EXISTS (SELECT t2_int FROM t2 WHERE t3.t3_int = t2.t2_int);
SELECT t1_int FROM t1 WHERE EXISTS (SELECT t4_int FROM t4 WHERE t1.t1_int = t4.t4_int);
SELECT t1_int FROM t1 WHERE NOT EXISTS (SELECT t4_int FROM t4 WHERE t1.t1_int = t4.t4_int);
SELECT t4_int FROM t4 WHERE EXISTS (SELECT t2_int FROM t2 WHERE t4.t4_int = t2.t2_int);
SELECT t4_int FROM t4 WHERE NOT EXISTS (SELECT t2_int FROM t2 WHERE t4.t4_int = t2.t2_int);

DROP TABLE t1,t2,t3,t4;

CREATE TABLE t1 (c1 INT, c2 CHAR(100)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (null,null);
INSERT INTO t1 VALUES (1,'');
INSERT INTO t1 VALUES (2,'abcde');
INSERT INTO t1 VALUES (100,'abcdefghij');
CREATE TABLE t2 (c1 INT, c2 VARCHAR(100)) ENGINE=TIANMU;
INSERT INTO t2 VALUES (1,'abcde');
INSERT INTO t2 VALUES (2,'abcde');
SELECT c1 FROM t1 WHERE EXISTS (SELECT * FROM t2 WHERE t1.c2 = t2.c2);
SELECT c1 FROM t1 WHERE NOT EXISTS (SELECT * FROM t2 WHERE t1.c2 =
t2.c2);
DROP TABLE t1;
DROP TABLE t2;
CREATE TABLE t1 (c1 INT, c2 VARCHAR(100)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (null,null);
INSERT INTO t1 VALUES (1,'');
INSERT INTO t1 VALUES (2,'abcde');
INSERT INTO t1 VALUES (100,'abcdefghij');
CREATE TABLE t2 (c1 INT, c2 VARCHAR(100)) ENGINE=TIANMU;
INSERT INTO t2 VALUES (1,'abcde');
INSERT INTO t2 VALUES (2,'abcde');
SELECT c1 FROM t1 WHERE EXISTS (SELECT * FROM t2 WHERE t1.c2 = t2.c2);
SELECT c1 FROM t1 WHERE NOT EXISTS (SELECT * FROM t2 WHERE t1.c2 =
t2.c2);
DROP TABLE t1;
DROP TABLE t2;
CREATE TABLE t1 (c1 INT, c2 BINARY(100)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (null,null);
INSERT INTO t1 VALUES (1,'');
INSERT INTO t1 VALUES (2,'abcde');
INSERT INTO t1 VALUES (100,'abcdefghij');
CREATE TABLE t2 (c1 INT, c2 VARCHAR(100)) ENGINE=TIANMU;
INSERT INTO t2 VALUES (1,'abcde');
INSERT INTO t2 VALUES (2,'abcde');
SELECT c1 FROM t1 WHERE EXISTS (SELECT * FROM t2 WHERE t1.c2 = t2.c2);
SELECT c1 FROM t1 WHERE NOT EXISTS (SELECT * FROM t2 WHERE t1.c2 =
t2.c2);
DROP TABLE t1;
DROP TABLE t2;
CREATE TABLE t1 (c1 INT, c2 VARBINARY(100)) ENGINE=TIANMU;
INSERT INTO t1 VALUES (null,null);
INSERT INTO t1 VALUES (1,'');
INSERT INTO t1 VALUES (2,'abcde');
INSERT INTO t1 VALUES (100,'abcdefghij');
CREATE TABLE t2 (c1 INT, c2 VARCHAR(100)) ENGINE=TIANMU;
INSERT INTO t2 VALUES (1,'abcde');
INSERT INTO t2 VALUES (2,'abcde');
SELECT c1 FROM t1 WHERE EXISTS (SELECT * FROM t2 WHERE t1.c2 = t2.c2);
SELECT c1 FROM t1 WHERE NOT EXISTS (SELECT * FROM t2 WHERE t1.c2 =
t2.c2);
DROP TABLE t1;
DROP TABLE t2;

DROP DATABASE issue301_test;
"""

SCRIPT_ISSUE1173F = """--source include/have_tianmu.inc
--disable_warnings

DROP DATABASE IF EXISTS issue1173;
CREATE DATABASE issue1173;
USE issue1173;

CREATE TABLE t1 (a TIME(1) NOT NULL);
INSERT INTO t1 VALUES ('00:00:02.9');
SELECT a, a & a, a | a, a^0, a<<1, a<<0, a>>1, bit_count(a) FROM t1;

CREATE TABLE t2 (a DATETIME(1) NOT NULL);
INSERT INTO t2 VALUES ('2001-01-01 00:00:02.9');
INSERT INTO t2 VALUES ('2001-01-01 23:59:59.9');
INSERT INTO t2 VALUES ('9999-12-31 23:59:59.9');
SELECT a, a & a, a | a, a^0, a<<1, a<<0, a>>1, bit_count(a) FROM t2;

DROP TABLE t1;
DROP TABLE t2;

DROP DATABASE issue1173;
"""

SCRIPT_BITF = """--source include/have_tianmu.inc

--echo #
--echo # Test bit
--echo #

--disable_warnings
DROP DATABASE IF EXISTS type_bit_test;
--enable_warnings
CREATE DATABASE type_bit_test;
USE type_bit_test;

select 0 + b'1';
select 0 + b'0';
select 0 + b'000001';
select 0 + b'000011';
select 0 + b'000101';
select 0 + b'000000';
select 0 + b'10000000';
select 0 + b'11111111';
select 0 + b'10000001';
select 0 + b'1000000000000000';
select 0 + b'1111111111111111';
select 0 + b'1000000000000001';

--disable_warnings
drop table if exists t1,t2;
--enable_warnings

--error 1439
create table t1 (a bit(65));

--error ER_INVALID_FIELD_SIZE
create table t1 (a bit(0));

create table t1 (a bit(63));
insert into t1 values 
(b'111111111111111111111111111111111111111111111111111111111111111'),
(b'100000000000000000000000000000000000000000000000000000000000000'),
(b'000000000000000000000000000000000000000000000000000000000000001'),
(b'010101010101010101010101010101010101010101010101010101010101010'),
(b'101010101010101010101010101010101010101010101010101010101010101');
select hex(a) from t1;
drop table t1;

create table t1 (a bit(5));
insert into t1 values (b'0'), (b'1'), (b'000'), (b'100'), (b'001');
select hex(a) from t1;
drop table t1;

create table t1 (a bit(5));
insert into t1 values (b'00'), (b'01'), (b'10'), (b'100');
select a+0 from t1;
drop table t1;

create table t1 (a bit(7), b bit(9));
insert into t1 values 
(94, 46), (31, 438), (61, 152), (78, 123), (88, 411), (122, 118), (0, 177),    
(75, 42), (108, 67), (79, 349), (59, 188), (68, 206), (49, 345), (118, 380),   
(111, 368), (94, 468), (56, 379), (77, 133), (29, 399), (9, 363), (23, 36),    
(116, 390), (119, 368), (87, 351), (123, 411), (24, 398), (34, 202), (28, 499),
(30, 83), (5, 178), (60, 343), (4, 245), (104, 280), (106, 446), (127, 403),   
(44, 307), (68, 454), (57, 135);
select a+0, b+0 from t1;
select a+0, b+0 from t1 where a > 40 and b > 200 order by 1;
select a+0, b+0 from t1 where a > 40 and a < 70 order by 2;
select hex(min(a)) from t1;
select hex(min(b)) from t1;
select hex(min(a)), hex(max(a)), hex(min(b)), hex(max(b)) from t1;
drop table t1;

create table t1 (a int not null, b bit, c bit(9));
insert into t1 values
(4, NULL, 1), (4, 0, 3), (2, 1, 4), (1, 1, 100), (4, 0, 23), (4, 0, 54),
(56, 0, 22), (4, 1, 100), (23, 0, 1), (4, 0, 34);
select a+0, b+0, c+0 from t1;
select hex(min(b)) from t1 where a = 4;
select hex(min(c)) from t1 where a = 4 and b = 0;
select hex(max(b)) from t1;
select a+0, b+0, c+0 from t1 where a = 4 and b = 0 limit 2;
select a+0, b+0, c+0 from t1 where a = 4 and b = 1;
select a+0, b+0, c+0 from t1 where a = 4 and b = 1 and c=100;
select a+0, b+0, c+0 from t1 order by b desc;
select a+0, b+0, c+0 from t1 order by c;
drop table t1;

create table t1(a bit(2), b bit(2));
insert into t1 (a) values (0x01), (0x03), (0x02);
update t1 set b= concat(a);
select a+0, b+0 from t1;
drop table t1;

# Test conversion to and from strings

create table t1 (a bit(3), b bit(12));
insert into t1 values (7,(1<<12)-2), (0x01,0x01ff);
select hex(a),hex(b) from t1;
#select concat(a),concat(b) from t1;
#select charset(concat(a)),concat(b) from t1;
#select hex(concat(a)),hex(concat(b)) from t1;
drop table t1;

#with primary key creation

create table t1(a int, b bit not null);
alter table t1 add primary key (a);
drop table t1;

# problem with NULLs and default values

create table t1 (a int, b time, c tinyint, d bool, e char(10), f bit(1), 
  g bit(1) NOT NULL default 1, h char(1) default 'a');
insert into t1 set a=1;
select hex(g), h from t1;
drop table t1;

# union

create table t1 (a bit(7));
insert into t1 values (120), (0), (111);
select a+0 from t1 union select a+0 from t1;
#bug1167 select a+0 from t1 union select NULL;
#bug1167  select NULL union select a+0 from t1;
#create table t2 select a from t1 union select a from t1;
#select a+0 from t2;
#show create table t2;
drop table t1;

# view
	
create table t1 (id1 int(11), b1 bit(1));
create table t2 (id2 int(11), b2 bit(1));
insert into t1 values (1, 1), (2, 0), (3, 1);
insert into t2 values (2, 1), (3, 0), (4, 0);
create view v1 as 
  select b1+0, b2+0 from t1, t2 where id1 = id2 and b1 = 0
  union
  select b1+0, b2+0 from t1, t2 where id1 = id2 and b2 = 1;
select * from v1;
drop table t1, t2;
drop view v1;

# insert into select

create table t1(a bit(4));
insert into t1(a) values (1), (2), (5), (4), (3);
insert into t1 select * from t1;
select a+0 from t1;
drop table t1;

# join

create table t1 (a1 int(11), b1 bit(2));
create table t2 (a2 int(11), b2 bit(2));
insert into t1 values (1, 1), (2, 0), (3, 1), (4, 2);
insert into t2 values (2, 1), (3, 0), (4, 1), (5, 2);
select a1, a2, b1+0, b2+0 from t1 join t2 on a1 = a2;
select a1, a2, b1+0, b2+0 from t1 join t2 on a1 = a2 order by a1;
select a1, a2, b1+0, b2+0 from t1 join t2 on b1 = b2 order by a1;
select sum(a1), b1+0, b2+0 from t1 join t2 on b1 = b2 group by b1 order by 1;
select 1 from t1 join t2 on b1 = b2 group by b1 order by 1;
select b1+0,sum(b1), sum(b2) from t1 join t2 on b1 = b2 group by b1 order by 1;
drop table t1, t2;

#BIN()/OCT()/CONV() do not work with BIT values

create table st(b BIT(8), n INT);
insert into st values(128, 128);
insert into st values(null, null);
insert into st values(0, 0);
insert into st values(255, 255);
select hex(b), bin(b), oct(b), hex(n), bin(n), oct(n) from st;
select hex(b)=hex(n) as should_be_onetrue, bin(b)=bin(n) as should_be_onetrue, oct(b)=oct(n) as should_be_onetrue from st;
select hex(b + 0), bin(b + 0), oct(b + 0), hex(n), bin(n), oct(n) from st; 
select conv(b, 10, 2), conv(b + 0, 10, 2) from st;
drop table st;

#data casting may affect data stored in the next column(s?)

create table t1(a bit(1), b smallint unsigned);
insert ignore into t1 (b, a) values ('2', '1');
select hex(a), b from t1;
drop table t1;

# GROUP BY a column of the BIT type

CREATE TABLE t1 (b BIT(2), a VARCHAR(5));
INSERT INTO t1 (b, a) VALUES (1, "x"), (3, "zz"), (0, "y"), (3, "z");
SELECT b+0, COUNT(DISTINCT a) FROM t1 GROUP BY b;
DROP TABLE t1;

CREATE TABLE t1 (a CHAR(5), b BIT(2));
INSERT INTO t1 (b, a) VALUES (1, "x"), (3, "zz"), (0, "y"), (3, "z");
SELECT b+0, COUNT(DISTINCT a) FROM t1 GROUP BY b;
DROP TABLE t1;

CREATE TABLE t1 (a INT, b BIT(2));
INSERT INTO t1 (b, a) VALUES (1, 1), (3, 2), (0, 3), (3, 4);
SELECT b+0, COUNT(DISTINCT a) FROM t1 GROUP BY b;
DROP TABLE t1;

#COUNT(DISTINCT(bit_column))

CREATE TABLE t1 (a int, b bit(2));
INSERT INTO t1 VALUES (3, 2), (2, 3), (2, 0), (3, 2), (3, 1);
SELECT COUNT(DISTINCT b) FROM t1 GROUP BY a;
DROP TABLE t1;

create table t2 (a int, b bit(2), c char(10));
INSERT INTO t2 VALUES (3, 2, 'two'), (2, 3, 'three'), (2, 0, 'zero'), 
                      (3, 2, 'two'), (3, 1, 'one');
#bug928 SELECT COUNT(DISTINCT b,c) FROM t2 GROUP BY a;
DROP TABLE t2;

--error 3234
CREATE TABLE t1(a BIT(13), KEY(a));
#--disable_warnings
#INSERT IGNORE INTO t1(a) VALUES (65535),(65525),(65535),(65535),(65535),
#                                (65535),(65535),(65535),(65535),(65535),
#                                (65535),(65525),(65535),(65535),(65535),
#                                (65535),(65535),(65535),(65535),(65535);
#--enable_warnings
#SELECT 1 FROM t1 GROUP BY a;
#DROP TABLE t1;

#SELECT with a BIT column in WHERE clause returns unexpected result

CREATE TABLE t1 (b BIT NOT NULL, i2 INTEGER NOT NULL, s VARCHAR(255) NOT NULL);
INSERT INTO t1 VALUES(0x01,100,''), (0x00,300,''), (0x01,200,''), (0x00,100,'');
SELECT HEX(b), i2 FROM t1 WHERE (i2>=100 AND i2<201) AND b=TRUE;

CREATE TABLE t2 (b1 BIT NOT NULL, b2 BIT NOT NULL, i2 INTEGER NOT NULL,
                 s VARCHAR(255) NOT NULL);
INSERT INTO t2 VALUES (0x01,0x00,100,''), (0x00,0x01,300,''),
                      (0x01,0x00,200,''), (0x00,0x01,100,'');
SELECT HEX(b1), i2 FROM t2 WHERE (i2>=100 AND i2<201) AND b1=TRUE;
SELECT HEX(b2), i2 FROM t2 WHERE (i2>=100 AND i2<201) AND b2=FALSE;
SELECT HEX(b1), HEX(b2), i2 FROM t2 WHERE (i2>=100 AND i2<201) AND b1=TRUE AND b2=FALSE;
DROP TABLE t1, t2;

# SHOW CREATE TABLE and default value for BIT field

CREATE TABLE IF NOT EXISTS t1 (
f1 bit(2) NOT NULL default b'10',
f2 bit(14) NOT NULL default b'11110000111100'
)DEFAULT CHARSET=latin1 COLLATE=latin1_general_ci;
SHOW CREATE TABLE t1;

INSERT INTO t1 (f1) VALUES (DEFAULT);
INSERT INTO t1 VALUES (b'', b''); 
SELECT HEX(f1), HEX(f2) FROM t1;
DROP TABLE t1;

# Wrong query result when doing join buffering over BIT fields 

create table t1bit7 (a1 bit(7) not null) ; 
create table t2bit7 (b1 bit(7)) ; 

insert into t1bit7 values (b'1100000'); 
insert into t1bit7 values (b'1100001'); 
insert into t1bit7 values (b'1100010'); 
insert into t2bit7 values (b'1100001'); 
insert into t2bit7 values (b'1100010'); 
insert into t2bit7 values (b'1100110'); 

select bin(a1) from t1bit7, t2bit7 where t1bit7.a1=t2bit7.b1; 
drop table t1bit7, t2bit7; 

create table t1bit7 (a1 bit(15) not null) ; 
create table t2bit7 (b1 bit(15)) ; 

insert into t1bit7 values (b'110000011111111'); 
insert into t1bit7 values (b'110000111111111'); 
insert into t1bit7 values (b'110001011111111'); 
insert into t2bit7 values (b'110000111111111'); 
insert into t2bit7 values (b'110001011111111'); 
insert into t2bit7 values (b'110011011111111'); 

select bin(a1) from t1bit7, t2bit7 where t1bit7.a1=t2bit7.b1; 
drop table t1bit7, t2bit7; 

CREATE TABLE t1 (a BIT(7), b BIT(9));
INSERT INTO t1 VALUES(0, 0), (5, 3), (5, 6), (6, 4), (7, 0);
SELECT a+0, b+0 FROM t1 WHERE a > 4 and b < 7 ORDER BY 2;
DROP TABLE t1;

# alter

create table t1(a bit(7));
insert into t1 values(0x40);
alter table t1 modify column a bit(8);
select hex(a) from t1;
insert into t1 values(0x80);
select hex(a) from t1;
insert into t1 values(0x81);
select hex(a) from t1;
drop table t1;

CREATE TABLE t1(a INT, b BIT(7) NOT NULL);
INSERT INTO t1 VALUES (NULL, 0),(NULL, 0);
SELECT SUM(a) FROM t1 GROUP BY b, a;
DROP TABLE t1;

CREATE TABLE t1(a INT, b BIT(7) NOT NULL, c BIT(8) NOT NULL);
INSERT INTO t1 VALUES (NULL, 0, 0),(NULL, 0, 0);
SELECT SUM(a) FROM t1 GROUP BY c, b, a;
DROP TABLE t1;

# Test insert of no bits. Should be treated as 0.

CREATE TABLE IF NOT EXISTS t1 (
f1 bit(2) NOT NULL
)  DEFAULT CHARSET=latin1 COLLATE=latin1_general_ci;
INSERT INTO t1 VALUES (b'');
SELECT bin(f1) FROM t1;
DROP TABLE t1;

# clean
drop database type_bit_test;
"""

SCRIPT_OTHER_BITF = """--source include/have_tianmu.inc

--echo #
--echo # Test bit
--echo #

--disable_warnings
DROP DATABASE IF EXISTS other_bit_test;
--enable_warnings
CREATE DATABASE other_bit_test;
USE other_bit_test;

CREATE TABLE bit_table(b BIT(11));

INSERT INTO bit_table VALUES (B'10');
INSERT INTO bit_table VALUES (B'00000000000');
INSERT INTO bit_table VALUES (B'11011000000');
INSERT INTO bit_table VALUES (B'01010101010');
--error ER_DATA_TOO_LONG
INSERT INTO bit_table VALUES (B'101011111010');
SELECT b+0 FROM bit_table;
	
CREATE TABLE varbit_table(v BIT (11));
INSERT INTO varbit_table VALUES (B'');
INSERT INTO varbit_table VALUES (B'0');	
INSERT INTO varbit_table VALUES (B'010101');
INSERT INTO varbit_table VALUES (B'01010101010');
--error ER_DATA_TOO_LONG
INSERT INTO varbit_table VALUES (B'101011111010');
SELECT v+0 FROM varbit_table;

# Concatenation
SELECT v+0, b+0, (v || b) AS concat  FROM bit_table, varbit_table ORDER BY b,v;

# Length
#bug1180 SELECT b, length(b) AS lb FROM bit_table;
#bug1180 SELECT v, length(v) AS lv FROM varbit_table;

# Substring
#bug1219 SELECT b+0,
#     SUBSTRING(b FROM 2 FOR 4)+0 AS sub_2_4,
#     SUBSTRING(b FROM 7 FOR 13)+0 AS sub_7_13,
#     SUBSTRING(b FROM 6)+0 AS sub_6
#     FROM bit_table;
# SELECT v+0,
#     SUBSTRING(v FROM 2 FOR 4)+0 AS sub_2_4,
#     SUBSTRING(v FROM 7 FOR 13)+0 AS sub_7_13,
#     SUBSTRING(v FROM 6)+0 AS sub_6
#     FROM varbit_table;

select B'001' & B'10';
select B'0111' | B'011';

# More position tests, checking all the boundary cases
SELECT POSITION(B'1010' IN B'0000101');
SELECT POSITION(B'1010' IN B'00001010');
SELECT POSITION(B'1010' IN B'00000101');
SELECT POSITION(B'1010' IN B'000001010');

SELECT POSITION(B'' IN B'00001010');
SELECT POSITION(B'0' IN B'');
SELECT POSITION(B'' IN B'');
SELECT POSITION(B'101101' IN B'001011011011011000');
SELECT POSITION(B'10110110' IN B'001011011011010');
SELECT POSITION(B'1011011011011' IN B'001011011011011');
SELECT POSITION(B'1011011011011' IN B'00001011011011011');

SELECT POSITION(B'11101011' IN B'11101011');
SELECT POSITION(B'11101011' IN B'011101011');
SELECT POSITION(B'11101011' IN B'00011101011');
SELECT POSITION(B'11101011' IN B'0000011101011');

SELECT POSITION(B'111010110' IN B'111010110');
SELECT POSITION(B'111010110' IN B'0111010110');
SELECT POSITION(B'111010110' IN B'000111010110');
SELECT POSITION(B'111010110' IN B'00000111010110');

SELECT POSITION(B'111010110' IN B'11101011');
SELECT POSITION(B'111010110' IN B'011101011');
SELECT POSITION(B'111010110' IN B'00011101011');
SELECT POSITION(B'111010110' IN B'0000011101011');

SELECT POSITION(B'111010110' IN B'111010110');
SELECT POSITION(B'111010110' IN B'0111010110');
SELECT POSITION(B'111010110' IN B'000111010110');
SELECT POSITION(B'111010110' IN B'00000111010110');

SELECT POSITION(B'111010110' IN B'000001110101111101011');
SELECT POSITION(B'111010110' IN B'0000001110101111101011');
SELECT POSITION(B'111010110' IN B'000000001110101111101011');
SELECT POSITION(B'111010110' IN B'00000000001110101111101011');

SELECT POSITION(B'111010110' IN B'0000011101011111010110');
SELECT POSITION(B'111010110' IN B'00000011101011111010110');
SELECT POSITION(B'111010110' IN B'0000000011101011111010110');
SELECT POSITION(B'111010110' IN B'000000000011101011111010110');

SELECT POSITION(B'000000000011101011111010110' IN B'000000000011101011111010110');
SELECT POSITION(B'00000000011101011111010110' IN B'000000000011101011111010110');
SELECT POSITION(B'0000000000011101011111010110' IN B'000000000011101011111010110');


# Shifting

CREATE TABLE bit_shift_table(b BIT(16));
INSERT INTO bit_shift_table VALUES (B'1101100000000000');
INSERT INTO bit_shift_table SELECT b>>1 FROM bit_shift_table;
INSERT INTO bit_shift_table SELECT b>>2 FROM bit_shift_table;
INSERT INTO bit_shift_table SELECT b>>4 FROM bit_shift_table;
INSERT INTO bit_shift_table SELECT b>>8 FROM bit_shift_table;
#bug1221 SELECT POSITION(B'1101' IN b),
#       POSITION(B'11011' IN b),
#       b
#       FROM bit_shift_table ;
SELECT b+0, b >> 1 AS bsr, b << 1 AS bsl
    FROM bit_shift_table order by bsr;
SELECT b+0, b >> 8 AS bsr8, b << 8 AS bsl8
    FROM bit_shift_table order by bsl8;

DROP TABLE bit_shift_table;

# bit_count
SELECT bit_count(B'0101011100');
SELECT bit_count(B'1111111111');

SELECT CAST(CAST(18446744073709551615 AS UNSIGNED) AS DECIMAL(32))<<0 AS c1;

SELECT 18446744073709551615 ^ 1 AS c1;
SELECT 18446744073709551615.0 ^ 1 AS c1;
SELECT 18446744073709551615e0 ^ 1 AS c1;

SELECT 18446744073709551615 & 18446744073709551615 AS c1;
SELECT 18446744073709551615 & 18446744073709551615.0 AS c1;
SELECT 18446744073709551615 & 18446744073709551615e0 AS c1;
SELECT 18446744073709551615.0 & 18446744073709551615 AS c1;
SELECT 18446744073709551615.0 & 18446744073709551615.0 AS c1;
SELECT 18446744073709551615.0 & 18446744073709551615e0 AS c1;
SELECT 18446744073709551615e0 & 18446744073709551615 AS c1;
SELECT 18446744073709551615e0 & 18446744073709551615.0 AS c1;
SELECT 18446744073709551615e0 & 18446744073709551615e0 AS c1;


SELECT 0 | 18446744073709551615 AS c1;
SELECT 0 | 18446744073709551615.0 AS c1;
SELECT 0 | 18446744073709551615e0 AS c1;
SELECT 18446744073709551615 | 0 AS c1;
SELECT 18446744073709551615.0 | 0 AS c1;
SELECT 18446744073709551615e0 | 0 AS c1;

SELECT ~18446744073709551615 AS c1;
SELECT ~18446744073709551615.0 AS c1;
SELECT ~18446744073709551615e0 AS c1;

SELECT BIT_COUNT(18446744073709551615) AS c1;
SELECT BIT_COUNT(18446744073709551615.0) AS c1;
SELECT BIT_COUNT(18446744073709551615e0) AS c1;

SELECT BIT_COUNT(-9223372036854775808) AS c1;
SELECT BIT_COUNT(-9223372036854775808.0) AS c1;
SELECT BIT_COUNT(-9223372036854775808e0) AS c1;

# clean
drop database other_bit_test;
"""

SCRIPT_ISSUE464F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue464_test;
--enable_warnings

CREATE DATABASE issue464_test;

USE issue464_test;

create table tt (date_test DATE, time_test TIME, datetime_test DATETIME, timestamp_test TIMESTAMP, year_test YEAR) ENGINE=TIANMU;
insert into tt values ('2017-12-07', '02:03:04', '2017-12-08 05:06:07', '2018-11-08 09:10:11', '2020');
select DATE(date_test) from tt;
select DATE(datetime_test) from tt;
select DATE(timestamp_test) from tt;
select DATE(year_test) from tt;
select ADDDATE(date_test, 31) from tt;
select ADDTIME(time_test, time_test), ADDTIME(datetime_test, '200:11:12') from tt;
select CONVERT_TZ(datetime_test, 'GMT', 'MET') from tt;
select DATEDIFF(date_test, '2010-07-16'), DATEDIFF(datetime_test, '2008-08-08') from tt;
select DATE_ADD(datetime_test, INTERVAL 12 HOUR) from tt;
select DATE_ADD(timestamp_test, INTERVAL '12 10:11:12' DAY_SECOND) from tt;
select DATE_ADD(date_test, INTERVAL '13 20:20:20' DAY_SECOND) from tt;
select DATE_SUB(datetime_test, INTERVAL 12 HOUR) from tt;
select DATE_SUB(timestamp_test, INTERVAL '12 10:11:12' DAY_SECOND) from tt;
select DATE_SUB(date_test, INTERVAL '13 20:20:20' DAY_SECOND) from tt;
select DATE_FORMAT(datetime_test, '%W %M %Y') from tt;
select DATE_FORMAT(timestamp_test, '%W %M %Y') from tt;
select DATE_FORMAT(date_test, '%W %M %Y') from tt;
select DAY(date_test), DAY(datetime_test), DAY(timestamp_test) from tt;
select DAYNAME(date_test), DAYNAME(datetime_test), DAYNAME(timestamp_test) from tt;
select DAYOFWEEK(date_test), DAYOFWEEK(datetime_test), DAYOFWEEK(timestamp_test) from tt;
select DAYOFYEAR(date_test), DAYOFYEAR(datetime_test), DAYOFYEAR(timestamp_test) from tt;
SELECT EXTRACT(DAY_MINUTE FROM date_test), EXTRACT(DAY_MINUTE FROM datetime_test), EXTRACT(DAY_MINUTE FROM timestamp_test) from tt;
select FROM_UNIXTIME(UNIX_TIMESTAMP(date_test)), FROM_UNIXTIME(UNIX_TIMESTAMP(datetime_test)), FROM_UNIXTIME(UNIX_TIMESTAMP(timestamp_test)) from tt;
select HOUR(date_test), HOUR(time_test), HOUR(datetime_test), HOUR(timestamp_test) from tt;
select TIME(date_test), TIME(time_test), TIME(datetime_test), TIME(timestamp_test) from tt;
select TIMESTAMP(date_test), TIMESTAMP(datetime_test), TIMESTAMP(timestamp_test) from tt;
select TIMESTAMPADD(WEEK, 1, date_test), TIMESTAMPADD(WEEK, 1, time_test), TIMESTAMPADD(WEEK, 1, datetime_test), TIMESTAMPADD(WEEK, 1, timestamp_test) from tt;
select TIMESTAMPDIFF(MINUTE, '2017-01-01', date_test), TIMESTAMPDIFF(MINUTE, '2017-01-01', datetime_test), TIMESTAMPDIFF(MINUTE, '2017-01-01', timestamp_test) from tt;
select TIME_TO_SEC(time_test), TO_DAYS(date_test) from tt;
select TO_SECONDS(date_test), TO_SECONDS(datetime_test) from tt;
select YEAR(date_test) from tt;
drop table tt;

DROP DATABASE issue464_test;
"""

SCRIPT_ADDDATEF = """--echo #
--echo # Test ADDDATE function
--echo # Author: syw
--echo #

--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS mcs178_db;
--enable_warnings

CREATE DATABASE mcs178_db;
USE mcs178_db;

CREATE TABLE t1 (a CHAR(1), b INT, c DATETIME, d DOUBLE)engine=tianmu;
INSERT INTO t1 VALUES ('', NULL, '1990-01-01', NULL),('a', 12, '1212-12-12', 1.19691E+100),('b', 13, '1313-3-13 13:13:13', 2.1961E+18),('c', 14, '1414-4-14', 0.16191),('d', 15, '2015-5-15 15:15:15', 1.971917);
SHOW CREATE TABLE t1;

SELECT ADDDATE('2020-02-02 22:22:22', 1);
SELECT ADDDATE('2020-02-02 22:22:22', INTERVAL 1 DAY);
SELECT ADDDATE('2020-02-02 22:22:22', INTERVAL 1 HOUR);
SELECT ADDDATE('2020-02-02 22:22:22', INTERVAL 1 MINUTE);
SELECT ADDDATE('2020-02-02 22:22:22', INTERVAL -1 SECOND);

SELECT c, ADDDATE(c, 1) FROM t1;
SELECT c, ADDDATE(c, -2) FROM t1;
SELECT c, ADDDATE(c, INTERVAL -1 HOUR) FROM t1;
SELECT c, ADDDATE(c, INTERVAL 1 MINUTE) FROM t1;
SELECT c, ADDDATE(c, INTERVAL 1 SECOND) FROM t1;

# Clean UP
DROP DATABASE mcs178_db;
"""

SCRIPT_ISSUE663F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue663_test;
--enable_warnings

CREATE DATABASE issue663_test;

USE issue663_test;

create table t11 (a int NOT NULL, b int, primary key (a))ENGINE=TIANMU;
create table t12 (a int NOT NULL, b int, primary key (a))ENGINE=TIANMU;
insert into t11 values (0, 10),(1, 11),(2, 12);
insert into t12 values (33, 10),(0, 11),(2, 12);

--disable_warnings
explain select t11.*,t12.* from t11,t12 where t11.a = t12.a;
--enable_warnings
select t11.*,t12.* from t11,t12 where t11.a = t12.a;
--disable_warnings
explain delete t11.*,t12.* from t11,t12 where t11.a = t12.a;
--disable_warnings
delete t11.*,t12.* from t11,t12 where t11.a = t12.a;

select * from t11;
select * from t12;

drop table t11,t12;

CREATE TABLE t1 (a int not null,b int not null)ENGINE=TIANMU;
CREATE TABLE t2 (a int not null, b int not null, primary key (a,b))ENGINE=TIANMU;
CREATE TABLE t3 (a int not null, b int not null, primary key (a,b))ENGINE=TIANMU;
insert into t1 values (1,1),(2,1),(1,3);
insert into t2 values (1,1),(2,2),(3,3);
insert into t3 values (1,1),(2,1),(1,3);
delete t2.*,t3.* from t1,t2,t3 where t1.a=t2.a AND t2.b=t3.a and t1.b=t3.b;

select * from t1;
select * from t2;
select * from t3;

drop table t1,t2,t3;

CREATE TABLE t1 (sku int PRIMARY KEY, pr int)engine=tianmu;
CREATE TABLE t2 (sku int PRIMARY KEY, sppr int, name varchar(255))engine=tianmu;

INSERT INTO t1 VALUES
  (10, 10), (20, 10), (30, 20), (40, 30), (50, 10), (60, 10);

INSERT INTO t2 VALUES 
  (10, 10, 'aaa'), (20, 10, 'bbb'), (30, 10, 'ccc'), (40, 20, 'ddd'),
  (50, 10, 'eee'), (60, 20, 'fff'), (70, 20, 'ggg'), (80, 30, 'hhh');

SELECT t2.sku, t2.sppr, t2.name, t1.sku, t1.pr
  FROM t2, t1 WHERE t2.sku=20 AND (t2.sku=t1.sku OR t2.sppr=t1.sku);

delete t2,t1
  FROM t2, t1 WHERE t2.sku=20 AND (t2.sku=t1.sku OR t2.sppr=t1.sku);

SELECT t2.sku, t2.sppr, t2.name, t1.sku, t1.pr
  FROM t2, t1 WHERE t2.sku=20 AND (t2.sku=t1.sku OR t2.sppr=t1.sku);

drop table t1,t2;

CREATE TABLE t1 (sku int PRIMARY KEY, pr int)engine=tianmu;
CREATE TABLE t2 (sku int PRIMARY KEY, sppr int, name varchar(255))engine=tianmu;

INSERT INTO t1 VALUES
  (10, 10), (20, 10), (30, 20), (40, 30), (50, 10), (60, 10);

INSERT INTO t2 VALUES 
  (10, 10, 'aaa'), (20, 10, 'bbb'), (30, 10, 'ccc'), (40, 20, 'ddd'),
  (50, 10, 'eee'), (60, 20, 'fff'), (70, 20, 'ggg'), (80, 30, 'hhh');

SELECT t2.sku, t2.sppr, t2.name, t1.sku, t1.pr  
  FROM t1,t2  WHERE 
  t1.sku=10 AND 
  (t2.sku=20 AND 
  (t2.sku=t1.sku OR 
  t2.sppr=t1.sku));

delete t1,t2  
  FROM t1,t2  WHERE 
  t1.sku=10 AND 
  (t2.sku=20 AND 
  (t2.sku=t1.sku OR 
  t2.sppr=t1.sku));

SELECT t2.sku, t2.sppr, t2.name, t1.sku, t1.pr  
  FROM t1,t2  WHERE 
  t1.sku=10 AND 
  (t2.sku=20 AND 
  (t2.sku=t1.sku OR 
  t2.sppr=t1.sku));

drop table t1,t2;

DROP DATABASE issue663_test;
"""

SCRIPT_ISSUE906F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue906_test;
--enable_warnings

CREATE DATABASE issue906_test;

USE issue906_test;

--disable_warnings

DROP TABLE IF EXISTS shop;

CREATE TABLE shop (
    article INT           DEFAULT '0000' NOT NULL,
    dealer  CHAR(20)      DEFAULT ''     NOT NULL,
    price   DECIMAL(16,2) DEFAULT '0.00' NOT NULL
) ENGINE=TIANMU;

INSERT INTO shop
	VALUES(1, 'A', 3.45),(1, 'B', 3.99),
	(2, 'A', 10.99),(3, 'B', 1.45),
	(3, 'C', 1.69),(3, 'D', 1.25),
	(4, 'D', 19.95);

## subquery

### EXPR IN subquery

SELECT
    *
FROM
    shop
WHERE
    article IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
);

### EXPR NOT IN subquery

SELECT
    *
FROM
    shop
WHERE
    article NOT IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
);

## union

SELECT
    *
FROM
    shop
WHERE
    article IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
)
UNION
SELECT
    *
FROM
    shop
WHERE
    article NOT IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
);

## union all

SELECT
    *
FROM
    shop
WHERE
    article IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
)
UNION ALL
SELECT
    *
FROM
    shop
WHERE
    article NOT IN (
    SELECT
        COUNT(*)
    FROM
        shop
    GROUP BY
        article
);

## clear test table of this issue

DROP TABLE shop;

DROP DATABASE issue906_test;
"""

SCRIPT_ISSUE998F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue998_test;
--enable_warnings

CREATE DATABASE issue998_test;

USE issue998_test;

--disable_warnings

# type int

## DDL

DROP TABLE IF EXISTS t1,t2;

CREATE TABLE t1 (t1_int INT, t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (NULL, ''),(1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'eee'),(11, 'nnn');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

# type big int

## DDL

CREATE TABLE t1 (t1_int BIGINT, t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int BIGINT, t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),(1, 'aaa'),(2, 'aaa'),(3, 'ccc'),(4, 'ddd'),(5, 'aaa'),(6, ''),(7, 'eee');
INSERT INTO t2 VALUES (NULL, ''),(1, 'eee'),(3, 'ccc'),(5, 'jjj'),(6, ''),(7, 'lll'),(9, 'eee'),(11, 'nnn');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

# type char

## DDL

DROP TABLE IF EXISTS t1,t2;

CREATE TABLE t1 (t1_int CHAR(1), t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int CHAR(1), t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),('a', 'aaa');
INSERT INTO t2 VALUES (NULL, ''),('b', 'eee');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

# type datetime, default precision

## DDL

CREATE TABLE t1 (t1_int DATETIME, t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int DATETIME, t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),('2022-01-01 00:00:00', 'aaa');
INSERT INTO t2 VALUES (NULL, ''),('2022-01-01 00:00:01', 'eee');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

# type datetime, default precision of 3

## DDL

CREATE TABLE t1 (t1_int DATETIME(3), t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int DATETIME(3), t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),('2022-01-01 00:00:00', 'aaa');
INSERT INTO t2 VALUES (NULL, ''),('2022-01-01 00:00:01', 'eee');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

# type datetime, default precision of 4

## DDL

CREATE TABLE t1 (t1_int DATETIME(4), t1_char CHAR(5)) ENGINE=TIANMU;
CREATE TABLE t2 (t2_int DATETIME(4), t2_char CHAR(5)) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (NULL, ''),('2022-01-01 00:00:00', 'aaa');
INSERT INTO t2 VALUES (NULL, ''),('2022-01-01 00:00:01', 'eee');

## query of union when has null result

SELECT t1_int FROM t1 UNION SELECT t2_char FROM t2;

SELECT t2_int FROM t2 UNION SELECT t1_char FROM t1;

## clean test table

DROP TABLE t1,t2;

DROP DATABASE issue998_test;
"""

SCRIPT_ISSUE887F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue887_test;
--enable_warnings

CREATE DATABASE issue887_test;

USE issue887_test;

--disable_warnings

DROP TABLE IF EXISTS t1,t2,t3;

## DDL

CREATE TABLE t1 (a INT) ENGINE=TIANMU;
CREATE TABLE t2 (a INT) ENGINE=TIANMU;
CREATE TABLE t3 (a INT) ENGINE=TIANMU;

## insert data

INSERT INTO t1 VALUES (1), (2), (3), (4);
INSERT INTO t2 VALUES (2), (3), (4);
INSERT INTO t3 VALUES (3), (4);

## check insert data

SELECT * FROM t1,t2,t3 ORDER BY t1.a,t2.a,t3.a;

## The predicate IS NULL occurs at where

### left join

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### right join

SELECT
	*
FROM
	t1
RIGHT JOIN t2
RIGHT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
RIGHT JOIN t2
RIGHT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### inner join

SELECT
	*
FROM
	t1
INNER JOIN t2
INNER JOIN t3
WHERE
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
INNER JOIN t2
INNER JOIN t3
WHERE
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### cross join

SELECT
	*
FROM
	t1
CROSS JOIN t2
CROSS JOIN t3
WHERE
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
CROSS JOIN t2
CROSS JOIN t3
WHERE
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

## The predicate IS NULL occurs at on

### left join

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### right join

SELECT
	*
FROM
	t1
RIGHT JOIN t2
RIGHT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
RIGHT JOIN t2
RIGHT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### inner join

SELECT
	*
FROM
	t1
INNER JOIN t2
INNER JOIN t3 ON
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
INNER JOIN t2
INNER JOIN t3 ON
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### cross join

SELECT
	*
FROM
	t1
CROSS JOIN t2
CROSS JOIN t3 ON
	t3.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
CROSS JOIN t2
CROSS JOIN t3 ON
	t3.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

## Predicate of routine

### Is greater than

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a > 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a > 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### Is equal to the

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a = 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a = 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

### Less than

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a
WHERE
	t3.a < 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1
LEFT JOIN t2
LEFT JOIN t3 ON
	t2.a = t3.a ON
	t1.a = t2.a AND
	t3.a < 3
ORDER BY
	t1.a,
	t2.a,
	t3.a;

## NOT JOIN

SELECT
	*
FROM
	t1,t2,t3
WHERE
	t3.a IS NULL OR
	t2.a IS NULL OR
	t1.a IS NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

SELECT
	*
FROM
	t1,t2,t3
WHERE
	t3.a IS NOT NULL OR
	t2.a IS NOT NULL OR
	t1.a IS NOT NULL
ORDER BY
	t1.a,
	t2.a,
	t3.a;

## clear test table of this issue

DROP TABLE t1,t2,t3;

DROP DATABASE issue887_test;
"""

SCRIPT_ISSUE959F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue959_test;
--enable_warnings

CREATE DATABASE issue959_test;

USE issue959_test;

--disable_warnings

# CHARACTER utf8mb4

## DDL

DROP TABLE IF EXISTS device_delta_collect;

CREATE TABLE device_delta_collect
(
    reportTime VARCHAR(255) DEFAULT NULL,
    deviceId   VARCHAR(255) DEFAULT NULL,
    multiple   VARCHAR(255) DEFAULT NULL,
    deltaJgs   VARCHAR(255) DEFAULT NULL
) ENGINE = TIANMU;

## insert data

INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-20 22:33:58', '1547034559760195585', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '15.9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '15.9.', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '15..9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '+15.9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '+15.9.', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '+15..9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '++++15.9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '++++15..9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '-15.9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '----15.9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '-15..9', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-21 22:33:58', '-15..9.', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-22 22:33:58', 'abcd', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-22 22:33:58', '0', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-22 22:33:58', '+0', '1', '1');
INSERT INTO device_delta_collect (reportTime, deviceId, deltaJgs, multiple) VALUES ('2022-08-22 22:33:58', '-0', '1', '1');

## query

### query str

SELECT * FROM device_delta_collect a WHERE a.deviceId = '1547034559760195585';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '1547034559760195585';

#### Instead of an orthopedic comparison, you use a string type here

SELECT * FROM device_delta_collect a WHERE a.deviceId = '1547034559760195587';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '1547034559760195587';

#### equal

SELECT * FROM device_delta_collect a WHERE a.deviceId = '15.9';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '15.9';

SELECT * FROM device_delta_collect a WHERE a.deviceId = '+15.9';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '+15.9';

SELECT * FROM device_delta_collect a WHERE a.deviceId = '-15.9';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '-15.9';

#### only char

SELECT * FROM device_delta_collect a WHERE a.deviceId = 'abcd';

SELECT * FROM device_delta_collect a WHERE a.deviceId != 'abcd';

#### for char '0'
 
SELECT * FROM device_delta_collect a WHERE a.deviceId = '0';

SELECT * FROM device_delta_collect a WHERE a.deviceId != '0';

### query big int

#### equal 1547034559760195585

SELECT * FROM device_delta_collect a WHERE a.deviceId = 1547034559760195587;

SELECT * FROM device_delta_collect a WHERE a.deviceId != 1547034559760195587;

### query float

SELECT * FROM device_delta_collect a WHERE a.deviceId = 15.9;

### query float with a plus sign

SELECT * FROM device_delta_collect a WHERE a.deviceId = +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId != +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId = -15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId != -15.9;

### query zero

SELECT * FROM device_delta_collect a WHERE a.deviceId = 0;

SELECT * FROM device_delta_collect a WHERE a.deviceId = +0;

SELECT * FROM device_delta_collect a WHERE a.deviceId = -0;

### query not zero

SELECT * FROM device_delta_collect a WHERE a.deviceId != 0;

SELECT * FROM device_delta_collect a WHERE a.deviceId != +0;

SELECT * FROM device_delta_collect a WHERE a.deviceId != -0;

## between

SELECT * FROM device_delta_collect a WHERE a.deviceId BETWEEN 14.9 AND 15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId BETWEEN +14.9 AND 15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId BETWEEN 14.9 AND +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId BETWEEN +14.9 AND +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId BETWEEN '14.9' AND '15.9';

## not between

SELECT * FROM device_delta_collect a WHERE a.deviceId NOT BETWEEN 14.9 AND 15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId NOT BETWEEN +14.9 AND 15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId NOT BETWEEN 14.9 AND +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId NOT BETWEEN +14.9 AND +15.9;

SELECT * FROM device_delta_collect a WHERE a.deviceId NOT BETWEEN '14.9' AND '15.9';

## clean test table

DROP TABLE device_delta_collect;

DROP DATABASE issue959_test;
"""

SCRIPT_ISSUE829F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue829_test;
--enable_warnings

CREATE DATABASE issue829_test;

USE issue829_test;

CREATE TABLE t1
(
 t1_tinyint TINYINT DEFAULT 0,
 t1_int INT DEFAULT NULL,
 t1_bigint BIGINT,
 t1_decimal DECIMAL(5,2),
 t1_text TEXT,
 t1_char CHAR(5),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t1 VALUES();
INSERT INTO t1 VALUES(NULL, NULL, NULL, NULL, '', '', '', NULL);
INSERT INTO t1 VALUES(1, 123456, 987654321, 122.32, repeat('z', 20), 'aaa', repeat('a', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(0, 1023456, 887654321, 222.32, repeat('y', 20), 'aaa', repeat('b', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(1, -123456, -987654321, -122.32, repeat('z', 20), 'bbb', repeat('a', 20), '1111-11-11 11:11:11');
INSERT INTO t1 VALUES(0, -1023456, -887654321, -222.32, repeat('x', 20), 'bbb', repeat('b', 20), '1111-11-11 11:11:11');

SELECT * FROM t1 WHERE t1_datetime IN ('1111-11-11 11:11:11','1111-11-13 0:0:0');

SELECT * FROM t1 WHERE t1_datetime = '1111-11-13 0:0:0';

SELECT * FROM t1 WHERE t1_datetime = '1111-11-11 11:11:11';

SELECT * FROM t1 WHERE t1_datetime < '1111-11-13 0:0:0';

SELECT * FROM t1 WHERE t1_datetime > '1111-11-13 0:0:0';

SELECT * FROM t1 WHERE t1_datetime > '1111-11-10 0:0:0';

CREATE TABLE t2
(
 t1_tinyint TINYINT DEFAULT 0,
 t1_int INT DEFAULT NULL,
 t1_bigint BIGINT,
 t1_decimal DECIMAL(5,2),
 t1_text TEXT,
 t1_char CHAR(5),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=tianmu;

INSERT INTO t2 VALUES();
INSERT INTO t2 VALUES(NULL, NULL, NULL, NULL, '', '', '', NULL);
INSERT INTO t2 VALUES(1, 123456, 987654321, 122.32, repeat('z', 20), 'aaa', repeat('a', 20), '1111-11-11 22:22:22');
INSERT INTO t2 VALUES(0, 1023456, 887654321, 222.32, repeat('y', 20), 'aaa', repeat('b', 20), '1111-11-12 11:11:11');
INSERT INTO t2 VALUES(1, -123456, -987654321, -122.32, repeat('z', 20), 'bbb', repeat('a', 20), '1111-11-13 11:11:11');
INSERT INTO t2 VALUES(0, -1023456, -887654321, -222.32, repeat('x', 20), 'bbb', repeat('b', 20), '1111-11-14 11:11:11');

SELECT * FROM t2 WHERE t1_datetime IN ('1111-11-11 0:0:0','1111-11-13 11:11:11');

SELECT * FROM t1,t2 WHERE 
  t1.t1_datetime IN ('1111-11-11 11:11:11','1111-11-13 0:0:0') and
  t2.t1_datetime IN ('1111-11-11 0:0:0','1111-11-13 11:11:11');

drop table t1 ,t2;

DROP DATABASE issue829_test;
"""

SCRIPT_ISSUE985F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue985_test;
--enable_warnings

CREATE DATABASE issue985_test;

USE issue985_test;

create table t1(a int not null,b int not null) default CHARSET=utf8mb4 COLLATE=utf8mb4_unicode_ci;
insert into t1 values (1,2);
show create table t1;
alter table t1 comment 'abcd';
show create table t1;
alter table t1 comment '测试表';
show create table t1;
drop table t1;

DROP DATABASE issue985_test;
"""

SCRIPT_DROP_COLUMNF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS drop_column_test;
--enable_warnings

CREATE DATABASE drop_column_test;

USE drop_column_test;

CREATE TABLE `column_type_test` (
 `c_tinyint` tinyint(4) DEFAULT NULL COMMENT 'tinyint',
  `c_smallint` smallint(6) DEFAULT NULL COMMENT 'smallint',
  `c_mediumint` mediumint(9) DEFAULT NULL COMMENT 'mediumint',
  `c_int` int(11) DEFAULT NULL COMMENT 'int',
  `c_bigint` bigint(20) DEFAULT NULL COMMENT 'bigint',
  `c_float` float DEFAULT NULL COMMENT 'float',
  `c_double` double DEFAULT NULL COMMENT 'double',
  `c_decimal` decimal(10,5) DEFAULT NULL COMMENT 'decimal',
  `c_date` date DEFAULT NULL COMMENT 'date',
  `c_datetime` datetime DEFAULT NULL COMMENT 'datetime',
  `c_timestamp` timestamp NULL DEFAULT NULL COMMENT 'timestamp',
  `c_time` time DEFAULT NULL COMMENT 'time',
  `c_char` char(10) DEFAULT NULL COMMENT 'char',
  `c_varchar` varchar(10) DEFAULT NULL COMMENT 'varchar',
  `c_blob` blob COMMENT 'blob',
  `c_text` text COMMENT 'text',
  `c_longblob` longblob COMMENT 'longblob'
) ENGINE=TIANMU;
alter table column_type_test drop column c_char;
show create table column_type_test;
drop table column_type_test;

DROP DATABASE drop_column_test;
"""

SCRIPT_ISSUE1131F = """-- source include/have_tianmu.inc

use test;
--disable_warnings
drop table IF EXISTS tmp_table;
--enable_warnings
--echo # 
--echo # tianmu_mandatory=OFF
--echo # 
--disable_warnings
set tianmu_mandatory=OFF;
--enable_warnings

create table t_issue1131(c1 int,c2 varchar(255))engine=innodb;
show create table t_issue1131;
show variables like '%_engine';
alter table t_issue1131 add c3 int;
show create table t_issue1131;
drop table t_issue1131;

CREATE TEMPORARY TABLE tmp_table (
 name VARCHAR(10) NOT NULL,
 value INTEGER NOT NULL
)engine=innodb;

show create table tmp_table;
drop table tmp_table;


--echo # 
--echo # tianmu_mandatory=ON
--echo # 
--disable_warnings
set tianmu_mandatory=ON;
--enable_warnings

create table t_issue1131(c1 int,c2 varchar(255))engine=innodb;
show create table t_issue1131;
show variables like '%_engine';
alter table t_issue1131 add c3 int;
show create table t_issue1131;
drop table t_issue1131;

CREATE TEMPORARY TABLE tmp_table (
 name VARCHAR(10) NOT NULL,
 value INTEGER NOT NULL
)engine=innodb;

show create table tmp_table;
drop table tmp_table;

--echo # 
--echo # tianmu_mandatory=ON
--echo # set default_storage_engine=innodb;
--disable_warnings
set tianmu_mandatory=ON;
--enable_warnings
set default_storage_engine=innodb;

create table t_issue1131(c1 int,c2 varchar(255));
show create table t_issue1131;
show variables like '%_engine';
alter table t_issue1131 add c3 int;
show create table t_issue1131;
drop table t_issue1131;

CREATE TEMPORARY TABLE tmp_table (
 name VARCHAR(10) NOT NULL,
 value INTEGER NOT NULL
);

show create table tmp_table;
drop table tmp_table;

--echo # 
--echo # tianmu_mandatory=OFF
--echo # 
--echo [on slave]
--disable_warnings
set tianmu_mandatory=OFF;
--enable_warnings

create table t_issue1131(c1 int,c2 varchar(255));
show create table t_issue1131;
show variables like '%_engine';
alter table t_issue1131 add c3 int;
show create table t_issue1131;
drop table t_issue1131;

CREATE TEMPORARY TABLE tmp_table (
 name VARCHAR(10) NOT NULL,
 value INTEGER NOT NULL
);

show create table tmp_table;
drop table tmp_table;"""

SCRIPT_CREATE_INDEXF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS create_index_test;
--enable_warnings

CREATE DATABASE create_index_test;

USE create_index_test;

create table t1 (f1 binary(5)) engine=innodb;
insert into t1 values ('w'), ('w');
--error ER_DUP_ENTRY
create unique index index_t1 on t1(f1(4));
drop table t1;

DROP DATABASE create_index_test;

# PROBE (not in the reference file): the file's only assertion is
# the --error leg above; one row proves the script completed.
select 1 as probe;
"""

SCRIPT_USER_FUNCF = """--source include/have_tianmu.inc
--source include/tianmu_utf8.inc

--echo #
--echo # Test function
--echo #

--disable_warnings
DROP DATABASE IF EXISTS user_function_test;
--enable_warnings

CREATE DATABASE user_function_test;
USE user_function_test;

create table test(num int,price int);
insert into test values (3,5);

# test variable settings

--disable_warnings
DROP FUNCTION if exists `myfunTest`;
--enable_warnings

DELIMITER //;
create function `myfunTest`(idx int) returns int 
    begin
        declare res int;                    # 声明定义1个变量, 初值默认为 null
        declare num1, num2 int default 27;  # 声明定义多个变量，初值全部为27
        declare data1, data2 int;           # 声明定义多个变量，初值全部默认为 null
        set num2 = 23, res = num1 + num2;   # 使用set语句, = 操作符赋值
        set data1 = 1, data2 = 1;
        select num, price into data1, data2 from test where num = idx;     # 使用 select into 语句
        set res :=  res * (data1 + data2);      # 使用set语句, := 操作符赋值
        return (res);
    end //
DELIMITER ;//
select myfuntest(5);
drop table test;
drop function myfunTest;


# flow control statements if

--disable_warnings
DROP FUNCTION if exists `getLevelByScore`;
--enable_warnings

DELIMITER //;
create function getLevelByScore(score int)
       returns varchar(255)
       comment '根据成绩获取评级'
    begin
        declare leavel varchar(255);
        if (score >= 90) then
            set leavel = '优秀';
        elseif (score >= 80) then
            set leavel = '中等';
        elseif (score >= 60) then
            set leavel = '及格';
        else
            set leavel = '不及格';
        end if;
        return leavel;
    end//
DELIMITER ;//
select getLevelByScore(10);
drop function getLevelByScore;

--disable_warnings
DROP FUNCTION if exists `SimpleCompare`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION SimpleCompare(n INT, m INT)
  RETURNS VARCHAR(20)

  BEGIN
    DECLARE s VARCHAR(20);
    IF n > m THEN SET s = '>';
    ELSEIF n = m THEN SET s = '=';
    ELSE SET s = '<';
    END IF;

    SET s = CONCAT(n, ' ', s, ' ', m);

    RETURN s;
  END //
DELIMITER ;//
select SimpleCompare(1,6);
select SimpleCompare(6,6);
drop FUNCTION SimpleCompare;

--disable_warnings
DROP FUNCTION if exists `VerboseCompare`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION VerboseCompare (n INT, m INT)
  RETURNS VARCHAR(50)
  BEGIN
    DECLARE s VARCHAR(50);

    IF n = m THEN SET s = 'equals';
    ELSE
      IF n > m THEN SET s = 'greater';
      ELSE SET s = 'less';
      END IF;
      SET s = CONCAT('is ', s, ' than');
    END IF;
    SET s = CONCAT(n, ' ', s, ' ', m, '.');
    RETURN s;
  END //
DELIMITER ;//
select VerboseCompare(5,7);
drop FUNCTION VerboseCompare;

# flow control statements while

--disable_warnings
DROP function if exists `getSum`;
--enable_warnings

DELIMITER //;
create function getSum(num int)
        returns int
        comment '计算0-num的和'
    begin
        declare i,sum int default 0;
        while (i<=num) do
            set sum = sum + i;
            set i = i + 1;
        end while;
        return sum;
    end//
DELIMITER ;//
select getsum(10);
ALTER FUNCTION `getSum` comment 'test';
DROP function `getSum`;

# flow control statements case

--disable_warnings
DROP FUNCTION if exists `pro_test`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION pro_test(a int) returns int
  BEGIN
    DECLARE v INT DEFAULT 1;
    set v = a;
    CASE v
      WHEN 2 THEN return v;
      WHEN 3 THEN return 0;
      ELSE
        BEGIN
			return 8;
        END;
    END CASE;
  END
//
DELIMITER ;//
select pro_test(3);
select pro_test(5);
select pro_test(2);
DROP FUNCTION `pro_test`;

--disable_warnings
DROP FUNCTION if exists `getGrade`;
--enable_warnings

DELIMITER //;
create function getGrade(mark int)
returns VARCHAR(20)
begin
return (
       case FLOOR(mark/10)
       when 5 then '不及格'
       when 6 then '继续努力'
       when 7 then '成绩良好'
       else '成绩优秀'
       end);
END//
DELIMITER ;//
select getGrade(30);
select getGrade(50);
select getGrade(20);
--disable_warnings
DROP FUNCTION if exists `myadd`;
--enable_warnings

drop FUNCTION if exists myadd;
delimiter //;
create FUNCTION myadd(a int) returns int
begin
    return a;
end
//
delimiter ;//
select myadd(3);
drop FUNCTION myadd;

# clean up
drop database user_function_test;
"""

SCRIPT_FUNC_DEFINEF = """--source include/have_tianmu.inc

--echo #
--echo # Test functions define and call
--echo #

--disable_warnings
DROP DATABASE IF EXISTS func_define_test;
--enable_warnings

CREATE DATABASE func_define_test;
USE func_define_test;

CREATE TABLE t1(x INT, y CHAR(10));
INSERT INTO t1 VALUES(1,'aaaaa'),(100,'bbbbbb'),(100,'ccccccc'),(300,'ddddddd');
# function declaration
CREATE FUNCTION f1(z INT) RETURNS INT DETERMINISTIC 
       RETURN (SELECT x FROM t1 WHERE x = z);
CREATE FUNCTION f2(z INT) RETURNS INT DETERMINISTIC
       RETURN (SELECT * FROM t1 WHERE x = z);

# function call
SELECT f1(1);
SELECT f1(300);
SELECT f1(11);
--error 1318
SELECT f1();
--error 1242
SELECT f1(100);	
--error 1241
SELECT f2(1);

# function drop
DROP FUNCTION f1;
DROP FUNCTION f2;
--error 1305
DROP FUNCTION f2;

DELIMITER //;
CREATE FUNCTION func1() RETURNS INT LANGUAGE SQL DETERMINISTIC CONTAINS SQL SQL SECURITY DEFINER
BEGIN
  RETURN 1;
END//
DELIMITER ;//
SHOW CREATE FUNCTION func1;
SELECT func1();

DELIMITER //;
CREATE FUNCTION func2() RETURNS CHAR(10) LANGUAGE SQL NOT DETERMINISTIC NO SQL SQL SECURITY INVOKER
BEGIN
  RETURN 'func2';
END//
DELIMITER ;//
SHOW CREATE FUNCTION func2;
SELECT func2();

DROP DATABASE func_define_test;

"""

SCRIPT_ISSUE566F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue_566_test;
--enable_warnings

CREATE DATABASE issue_566_test;

USE issue_566_test;

CREATE TABLE `lineitem_i342` (
`l_orderkey` int(11) NOT NULL,
`l_partkey` int(11) NOT NULL,
`l_suppkey` int(11) NOT NULL,
`l_linenumber` int(11) NOT NULL,
`l_quantity` decimal(15,2) NOT NULL,
`l_extendedprice` decimal(15,2) NOT NULL,
`l_discount` decimal(15,2) NOT NULL,
`l_tax` decimal(15,2) NOT NULL,
`l_returnflag` char(1) NOT NULL,
`l_linestatus` char(1) NOT NULL,
`l_shipdate` date NOT NULL,
`l_commitdate` date NOT NULL,
`l_receiptdate` date NOT NULL,
`l_shipinstruct` char(25) NOT NULL,
`l_shipmode` char(10) NOT NULL,
`l_comment` varchar(44) NOT NULL,
PRIMARY KEY (`l_orderkey`,`l_linenumber`)
) ENGINE=tianmu;
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(842980, 1881559, 56614, 4, 5.00, 7702.30, 0.01, 0.03, 'A', 'F', '1992-01-02', '1992-03-20', '1992-01-20', 'COLLECT COD', 'REG AIR', 'lly regular asymptotes. unu');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(1111877, 1341765, 16805, 3, 20.00, 36134.00, 0.10, 0.07, 'A', 'F', '1992-01-02', '1992-02-28', '1992-01-07', 'TAKE BACK RETURN', 'FOB', 're. ideas wake');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(1332613, 539811, 14827, 1, 14.00, 25911.06, 0.08, 0.07, 'A', 'F', '1992-01-02', '1992-02-11', '1992-01-18', 'TAKE BACK RETURN', 'TRUCK', 'y against the furiously regular');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(2184032, 1394196, 44223, 5, 14.00, 18061.82, 0.06, 0.02, 'A', 'F', '1992-01-02', '1992-02-25', '1992-01-15', 'DELIVER IN PERSON', 'RAIL', 'even ideas breach slyly above the d');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(5018977, 820387, 20388, 1, 20.00, 26146.80, 0.00, 0.00, 'A', 'F', '1992-01-02', '1992-03-19', '1992-01-15', 'NONE', 'SHIP', 'packages detect furiously quick');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(8478693, 842913, 92930, 5, 13.00, 24126.31, 0.01, 0.03, 'A', 'F', '1992-01-02', '1992-02-02', '1992-01-05', 'DELIVER IN PERSON', 'REG AIR', 'y silent decoys');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(9838337, 201251, 26254, 1, 10.00, 11522.40, 0.03, 0.05, 'A', 'F', '1992-01-02', '1992-03-27', '1992-01-22', 'NONE', 'RAIL', 'pending pinto beans. boldly unusual de');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(11174723, 851066, 76075, 1, 41.00, 41697.82, 0.07, 0.02, 'A', 'F', '1992-01-02', '1992-03-28', '1992-01-08', 'NONE', 'MAIL', 's detect blithely entic');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12493984, 912626, 87654, 4, 6.00, 9831.48, 0.02, 0.08, 'A', 'F', '1992-01-02', '1992-02-13', '1992-01-29', 'TAKE BACK RETURN', 'REG AIR', 'e the slyly e');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12575687, 330833, 30834, 4, 41.00, 76416.62, 0.02, 0.04, 'A', 'F', '1992-01-02', '1992-03-10', '1992-01-28', 'DELIVER IN PERSON', 'RAIL', 'ecial frets. carefully sly depo');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(12753441, 1023833, 98864, 4, 35.00, 61487.30, 0.10, 0.08, 'A', 'F', '1992-01-02', '1992-02-18', '1992-01-23', 'COLLECT COD', 'FOB', 'encies haggle. regular, r');
INSERT INTO lineitem_i342 (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, l_commitdate, l_receiptdate, l_shipinstruct, l_shipmode, l_comment) VALUES(15413986, 1799270, 99271, 4, 14.00, 19168.66, 0.05, 0.05, 'A', 'F', '1992-01-02', '1992-01-31', '1992-01-04', 'COLLECT COD', 'TRUCK', 'structions. blithely pending asymptotes');
CREATE VIEW revenue_i05 AS SELECT l_suppkey AS supplier_no, sum(l_extendedprice * (1 - l_discount)) AS total_revenue FROM lineitem_i342 WHERE l_shipdate >= '1992-01-01' AND l_shipdate < DATE_ADD('1992-01-01',INTERVAL '1 1:1:1' DAY_SECOND) GROUP BY l_suppkey;
SELECT * FROM revenue_i05 order by supplier_no;
drop view revenue_i05;
drop table lineitem_i342;

DROP DATABASE issue_566_test;
"""

SCRIPT_ISSUE422F = """--source include/have_tianmu.inc

--disable_warnings

DROP DATABASE IF EXISTS issue422_test;

CREATE DATABASE issue422_test;

USE issue422_test;


## DDL

DROP TABLE IF EXISTS test1;

CREATE TABLE t1(id int, name varchar(20)) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

## procedure

drop procedure if exists idata;

delimiter //;
create procedure idata(in num INT)
begin
  declare i int;
  set i=1;
  while(i<=num) do
    if (i < 200) then
      insert into t1 values(i, 'James');
    elseif (i >= 200 && i < 1500) then
      insert into t1 values(i, 'Lily');
    else
      insert into t1 values(i, 'Kevin');
    end if;
    set i=i+1;
  end while;
end //

delimiter ;//

## insert data

call idata(3000);

## log

set global tianmu_slow_query_record_interval=0;
set global tianmu_groupby_parallel_rows_minimum=1000;

## query 

## group by of single thread

## set threads
set global tianmu_groupby_parallel_degree=0;

## query
select sum(id),name from t1 group by name order by name;

## groupy bu of multi thread

## set threads
set global tianmu_groupby_parallel_degree=2;

## query
select sum(id),name from t1 group by name order by name;

## log 
set global tianmu_slow_query_record_interval=2;

# MORE

drop table t1;

CREATE TABLE t1 (
  spID int(10) unsigned,
  userID int(10) unsigned,
  score int(5) unsigned,
  lsg char(40)
) ENGINE=TIANMU;

INSERT INTO t1 VALUES (1,1,1,'');
INSERT INTO t1 VALUES (2,2,2,'');
INSERT INTO t1 VALUES (2,1,1,'');
INSERT INTO t1 VALUES (3,3,3,'');

CREATE TABLE t2 (
  userID int(10),
  niName char(15),
  passwd char(8),
  mail char(50),
  vName char(30),
  nName char(40),
  adr char(60),
  plz char(5),
  ort char(35),
  land char(20)
) ENGINE=TIANMU;

INSERT INTO t2 VALUES (1,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (2,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (3,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (4,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (5,'name','pass','mail','v','n','adr','1','1','1');

SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY NULL;
SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score+0.0) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score+0.0) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid ORDER BY NULL;

drop table t1;
drop table t2;

CREATE TABLE t1
(
 t1_INT INT DEFAULT 0,
 t1_double DOUBLE,
 t1_float FLOAT,
 t1_blob BLOB,
 t1_text TEXT,
 t1_char CHAR(1),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=TIANMU;

INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(20368547, -3.797693231E+108, -7.402866E+18, repeat('b',100), repeat('b',100), 'b', '2387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(303685, -4.797693231, -8.402866, repeat('b',101), repeat('b',101), 'b', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(40385, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(40368, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);

--sorted_result
SELECT * FROM t1;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_double;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_text;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_datetime;

--sorted_result
SELECT SUM(t1_INT) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT SUM(t1_double) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT SUM(DISTINCT t1_double) FROM t1 GROUP BY t1_float;

#group by multiple columns
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar, t1_datetime;

#along with where clause
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_blob IS NOT NULL GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_INT = 0 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_char IN ('a', 'b') GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_varchar LIKE '%world%' GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_INT != 0 AND t1_INT = 0 OR t1_INT IS NULL GROUP BY t1_varchar, t1_datetime;

drop table t1;

CREATE TABLE t1 (t1_INT INT, t1_char CHAR(5))ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5))ENGINE=TIANMU;
INSERT INTO t1 VALUES (NULL,''),(1,'aaa'),(2,'bbb'),(3,'aaa'),(4,'bbb'),(5,'aaa'),(6,'ccc'),(7,'bbb');
INSERT INTO t2 VALUES (NULL,''),(1,'ooo'),(3,'iii'),(5,'ooo'),(7,'ooo'),(9,'kkkk'),(11,'iii'),(13,'ooo');

--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

drop table t1;
drop table t2;

# start multi threads

set global tianmu_groupby_parallel_rows_minimum=5;
set global tianmu_groupby_parallel_degree=2;

# again

CREATE TABLE t1 (
  spID int(10) unsigned,
  userID int(10) unsigned,
  score int(5) unsigned,
  lsg char(40)
) ENGINE=TIANMU;

INSERT INTO t1 VALUES (1,1,1,'');
INSERT INTO t1 VALUES (2,2,2,'');
INSERT INTO t1 VALUES (2,1,1,'');
INSERT INTO t1 VALUES (3,3,3,'');

CREATE TABLE t2 (
  userID int(10),
  niName char(15),
  passwd char(8),
  mail char(50),
  vName char(30),
  nName char(40),
  adr char(60),
  plz char(5),
  ort char(35),
  land char(20)
) ENGINE=TIANMU;

INSERT INTO t2 VALUES (1,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (2,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (3,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (4,'name','pass','mail','v','n','adr','1','1','1');
INSERT INTO t2 VALUES (5,'name','pass','mail','v','n','adr','1','1','1');

SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID GROUP BY t2.userid ORDER BY NULL;
SELECT t2.userid, MIN(t1.score) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score+0.0) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid;
SELECT t2.userid, MIN(t1.score+0.0) FROM t1, t2 WHERE t1.userID=t2.userID AND t1.spID=2  GROUP BY t2.userid ORDER BY NULL;

drop table t1;
drop table t2;

CREATE TABLE t1
(
 t1_INT INT DEFAULT 0,
 t1_double DOUBLE,
 t1_float FLOAT,
 t1_blob BLOB,
 t1_text TEXT,
 t1_char CHAR(1),
 t1_varchar VARCHAR(255) DEFAULT 'hello world!',
 t1_datetime DATETIME
)ENGINE=TIANMU;

INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(20368547, -3.797693231E+108, -7.402866E+18, repeat('b',100), repeat('b',100), 'b', '2387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(303685, -4.797693231, -8.402866, repeat('b',101), repeat('b',101), 'b', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(40385, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('c',101), repeat('c',101), 'c', '3387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(40368, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1 (t1_INT, t1_double, t1_float, t1_blob, t1_text, t1_char, t1_datetime)
VALUES(403685, +54.797693231, +8.402866, repeat('2',102), repeat('d',102), 'd', '4387-11-08 11:22:30.123');
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);
INSERT INTO t1  VALUES(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL);

--sorted_result
SELECT * FROM t1;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_double;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_text;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_datetime;

--sorted_result
SELECT SUM(t1_INT) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT SUM(t1_double) FROM t1 GROUP BY t1_float;
--sorted_result
SELECT SUM(DISTINCT t1_double) FROM t1 GROUP BY t1_float;

#group by multiple columns
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 GROUP BY t1_varchar, t1_datetime;

#along with where clause
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_blob IS NOT NULL GROUP BY t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_INT = 0 GROUP BY t1_blob, t1_text, t1_char;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_char IN ('a', 'b') GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_varchar LIKE '%world%' GROUP BY t1_varchar, t1_datetime;
--sorted_result
SELECT COUNT(*) FROM t1 WHERE t1_INT != 0 AND t1_INT = 0 OR t1_INT IS NULL GROUP BY t1_varchar, t1_datetime;

drop table t1;

CREATE TABLE t1 (t1_INT INT, t1_char CHAR(5))ENGINE=TIANMU;
CREATE TABLE t2 (t2_int INT, t2_char CHAR(5))ENGINE=TIANMU;
INSERT INTO t1 VALUES (NULL,''),(1,'aaa'),(2,'bbb'),(3,'aaa'),(4,'bbb'),(5,'aaa'),(6,'ccc'),(7,'bbb');
INSERT INTO t2 VALUES (NULL,''),(1,'ooo'),(3,'iii'),(5,'ooo'),(7,'ooo'),(9,'kkkk'),(11,'iii'),(13,'ooo');

--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT COUNT(*) FROM t1, t2 WHERE t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 LEFT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_INT;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t1.t1_char;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_int;
--sorted_result
SELECT SUM(t1.t1_INT) FROM t1 RIGHT JOIN t2 ON t1.t1_INT = t2.t2_int GROUP BY t2.t2_char;

drop table t1;
drop table t2;

# clean

drop database issue422_test;"""

SCRIPT_ISSUE222F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue222_test;
--enable_warnings

CREATE DATABASE issue222_test;

USE issue222_test;

create table $tt (a$1 int, $b int, c$ int) engine=tianmu;
insert into $tt values (1,2,3);
select a$1, $b, c$ from $tt;
drop table $tt;

DROP DATABASE issue222_test;
"""

SCRIPT_ISSUE228F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue228_test;
--enable_warnings

CREATE DATABASE issue228_test;

USE issue228_test;

--disable_warnings
drop table if exists t1;
--enable_warnings

create table t1 (a varchar(112) charset utf8 collate utf8_bin not null,primary key (a)) select 'test' as a ;
select a from t1;
drop table t1;

DROP DATABASE issue228_test;
"""

SCRIPT_ISSUE362F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue362_test;
--enable_warnings

CREATE DATABASE issue362_test;

USE issue362_test;

CREATE TABLE `abcÿdef` (i int)engine=tianmu;
INSERT INTO `abcÿdef` VALUES (1);
INSERT INTO abcÿdef VALUES (2);
SELECT * FROM `abcÿdef`;
SELECT * FROM abcÿdef;
DROP TABLE `abcÿdef`;

DROP DATABASE issue362_test;
"""

SCRIPT_CREATE_TABLEF = """--source include/have_tianmu.inc

--echo #
--echo # Test table name
--echo #

drop table if exists t1,t2,t3,t4,t5;
drop database if exists mysqltest;
drop view if exists v1;
create table t1 (b char(0) not null)ENGINE=tianmu;
--error 1048
insert into t1 values (""),(null);
create table if not exists t1 (b char(0) not null)ENGINE=tianmu;
--error 1050
create table t1 (b char(0) not null)engine=tianmu;
drop table t1;
create table `a/a` (a int)engine=tianmu;
show create table `a/a`;
create table t1 like `a/a`;
drop table `a/a`,`t1`;

--echo #
--echo # Tests the long field name table
--echo #

--error 1059
create table `aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa` (aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa int)engine=tianmu;
--error 1059
create table a (`aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa` int)engine=tianmu;
--error 1067
create table t1 (a int default 100 auto_increment)engine=tianmu;
--error 1067
create table t1 (a tinyint default 1000)engine=tianmu;
--error 1067
create table t1 (a varchar(5) default 'abcdef')engine=tianmu;
create table t1 (a varchar(5) default 'abcde')engine=tianmu;
insert into t1 values();
select * from t1;
--error 1067
alter table t1 alter column a set default 'abcdef';
drop table t1;
"""

SCRIPT_TRIGGERF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #writer:shangyanwen

--echo #
--echo # Trigger is not activated by LOAD DATA"
--echo # syw test result

#create table t1 (i int, j int, k int)engine=tianmu;
#create trigger trg1 before insert on t1 for each row set new.k = new.i;
#create trigger trg2 after insert on t1 for each row set @b:= "Fired"; 
#set @b:="";
# Test triggers with file with separators
#load data infile '../../std_data/rpl_loaddata.dat' into table t1 (@a, i);
#select *, @b from t1;
#set @b:="";
# Test triggers with fixed size row file
#load data infile '../../std_data/loaddata5.dat' into table t1 fields terminated by '' enclosed by '' (i, j);
#select *, @b from t1;
# This also will drop triggers
#drop table t1;

--echo #
--echo # Trigger activation INSERT
--echo #

CREATE TABLE account (acct_num INT, amount DECIMAL(10,2))engine=tianmu;
CREATE TRIGGER ins_sum BEFORE INSERT ON account FOR EACH ROW SET @sum = @sum + NEW.amount;

SET @sum = 0;
INSERT INTO account VALUES(137,14.98),(141,1937.50),(97,-100.00);
SELECT @sum AS 'Total amount inserted';
DROP TRIGGER test.ins_sum;
drop table account;


--echo #
--echo # simple trigger
--echo #

--disable_warnings
drop table if exists t1;
--enable_warnings

create table t1 (i int)engine=tianmu;
create trigger trg before insert on t1 for each row set @a:=1;
set @a:=0;
select @a;
insert into t1 values (1);
select @a;
drop trigger trg;

--echo #
--echo #simple trigger reading some values 
--echo #

create trigger trg before insert on t1 for each row set @a:=new.i;
insert into t1 values (123);
select @a;

drop trigger trg;
drop table t1;

--echo #
--echo ## After insert trigger
--echo # Useful for aggregating data

create table t1 (i int not null primary key)engine=tianmu;
create trigger trg after insert on t1 for each row
  set @a:= if(@a,concat(@a, ":", new.i), new.i);
set @a:="";
insert into t1 values (2),(3),(4),(5);
select @a;
drop trigger trg;
drop table t1;

--echo #
--echo # test triggers which access other tables
--echo # Trivial trigger which inserts data into another table
--echo #
--disable_warnings
drop table if exists t2;
--enable_warnings
create table t1 (id int primary key, data varchar(10), fk int)engine=tianmu;
create table t2 (event varchar(100))engine=tianmu;
create table t3 (id int primary key)engine=tianmu;
create trigger t1_ai after insert on t1 for each row 
insert into t2 values (concat("INSERT INTO t1 id=", new.id, " data='", new.data, "'"));
insert into t1 (id, data) values (1, "one"), (2, "two");
select * from t1;
select * from t2;
drop trigger t1_ai;
# Trigger which uses couple of tables (and partially emulates FK constraint)
delimiter |;
"""

SCRIPT_ISSUE364F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue364_test;
--enable_warnings

CREATE DATABASE issue364_test;

USE issue364_test;

CREATE TABLE `t_test1`(
`id` INT NOT NULL AUTO_INCREMENT,
`first_name` VARCHAR(10) NOT NULL,
`last_name` VARCHAR(10) NOT NULL,
`sex` VARCHAR(5) NOT NULL,
`score` INT NOT NULL,
`copy_id` INT NOT NULL,
PRIMARY KEY (`id`)
) ENGINE=tianmu;
CREATE TABLE `t_test2`(
`id` INT NOT NULL AUTO_INCREMENT,
`first_name` VARCHAR(10) NOT NULL,
`last_name` VARCHAR(10) NOT NULL,
`sex` VARCHAR(5) NOT NULL,
`score` INT NOT NULL,
`copy_id` INT NOT NULL,
PRIMARY KEY (`id`)
) ENGINE=tianmu;
DELIMITER |;
CREATE TRIGGER insert_trigger_t_test2 AFTER INSERT ON t_test1 FOR EACH ROW
BEGIN
INSERT INTO t_test2(id,first_name,last_name,sex,score,copy_id) VALUES (new.id,new.first_name,new.last_name,new.sex,new.score,new.copy_id);
END|
DELIMITER ;|
INSERT INTO t_test1 values(1,'张','三','1',100,1);
SELECT id FROM t_test2;
DROP TRIGGER insert_trigger_t_test2;
DROP TABLE t_test2;
DROP TABLE t_test1;

DROP DATABASE issue364_test;
"""

SCRIPT_ISSUE669F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue669_test;
--enable_warnings

CREATE DATABASE issue669_test;

USE issue669_test;

--echo #
--echo # Fix assertion errors caused by syntax optimization of the tianmu engine #669
--echo # 

create table t11 (a int NOT NULL, b int, primary key (a))ENGINE=TIANMU;
create table t12 (a int NOT NULL, b int, primary key (a))ENGINE=TIANMU;
create table t2 (a int NOT NULL, b int, primary key (a))ENGINE=TIANMU;
insert into t11 values (0, 10),(1, 11),(2, 12);
insert into t12 values (33, 10),(0, 11),(2, 12);
insert into t2 values (1, 21),(2, 12),(3, 23);

delete from t11 where t11.b not in (select b from t2 where t11.a < t2.a);

# PROBE (not in the reference file): the file has no SELECT of
# its own; this reads the table state the statements produced.
select * from t11 order by a;
"""

SCRIPT_ISSUE656F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue656_test;
--enable_warnings

CREATE DATABASE issue656_test;

USE issue656_test;

CREATE TABLE `test` (
  `id` int(11) DEFAULT NULL,
  `t` timestamp NULL DEFAULT NULL
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue656.txt' into table test fields terminated by ',';
show warnings;
# PROBE (not in the reference file): the file has no SELECT of
# its own; this reads the table state the statements produced.
select * from test order by id;
"""

SCRIPT_ISSUE487F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue487_test;
--enable_warnings

CREATE DATABASE issue487_test;

USE issue487_test;

-- error 1030
create table `#mysql50#q.q` (f1 int primary key) engine=tianmu;

# PROBE (not in the reference file): the file has no SELECT of
# its own; this reads the only assertion is the --error leg above.
select 1 as probe;
"""

SCRIPT_ISSUE226F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue226_test;
--enable_warnings

CREATE DATABASE issue226_test;

USE issue226_test;

--disable_warnings
DROP TABLE IF EXISTS t1;
DROP TABLE IF EXISTS t2;
--enable_warnings
CREATE TABLE t1 (f1 VARCHAR(255) CHARACTER SET utf8) ENGINE=TIANMU;
CREATE TABLE t2 AS SELECT LEFT(f1,171) AS f2 FROM t1 UNION SELECT LEFT(f1,171) AS f2 FROM t1;
INSERT INTO t2 VALUES ('a');
INSERT INTO t2 VALUES ('b');
INSERT INTO t2 VALUES ('c');
SELECT * FROM t2;
DROP TABLE t1;
DROP TABLE t2;

DROP DATABASE issue226_test;
"""

SCRIPT_ISSUE271F = r"""--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue271_test;
--enable_warnings

CREATE DATABASE issue271_test;

USE issue271_test;

--disable_warnings

# CHARACTER utf8mb4

## DDL

DROP TABLE IF EXISTS test1;

CREATE TABLE test1(a varchar(100)) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

## insert data

INSERT INTO test1 VALUES ('hakan%'), ('hakank'), ("ha%an");

## Setting the Default SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## query of escape

### issue271

SELECT * FROM test1 WHERE a LIKE 'hakan*%' ESCAPE '*';

### issue272

SELECT * FROM test1 WHERE a LIKE 'ha|%an' ESCAPE '|';

### issue273 but with default SQL MODE

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE '';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '\\';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE '\n';

#### sql mod NO_BACKSLASH_ESCAPES

SET @@SQL_MODE='NO_BACKSLASH_ESCAPES';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

#### ESCAPE must be a single character

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE ' ';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE 'n';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '%';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '*';

## Restoring SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## clean test table

DROP TABLE test1;

# CHARACTER ascii

## DDL

CREATE TABLE test1(a varchar(100)) ENGINE=TIANMU DEFAULT CHARSET=ascii;

## insert data

INSERT INTO test1 VALUES ('hakan%'), ('hakank'), ("ha%an");

## Setting the Default SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## query of escape

### issue271

SELECT * FROM test1 WHERE a LIKE 'hakan*%' ESCAPE '*';

### issue272

SELECT * FROM test1 WHERE a LIKE 'ha|%an' ESCAPE '|';

### issue273 but with default SQL MODE

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE '';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '\\';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE '\n';

#### sql mod NO_BACKSLASH_ESCAPES

SET @@SQL_MODE='NO_BACKSLASH_ESCAPES';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

#### ESCAPE must be a single character

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE ' ';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE 'n';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '%';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '*';

## Restoring SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## clean test table

DROP TABLE test1;

# CHARACTER gb18030

## DDL

CREATE TABLE test1(a varchar(100)) ENGINE=TIANMU DEFAULT CHARSET=gb18030;

## insert data

INSERT INTO test1 VALUES ('hakan%'), ('hakank'), ("ha%an");

## Setting the Default SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## query of escape

### issue271

SELECT * FROM test1 WHERE a LIKE 'hakan*%' ESCAPE '*';

### issue272

SELECT * FROM test1 WHERE a LIKE 'ha|%an' ESCAPE '|';

### issue273 but with default SQL MODE

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE '';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '\\';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE '\n';

#### sql mod NO_BACKSLASH_ESCAPES

SET @@SQL_MODE='NO_BACKSLASH_ESCAPES';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

#### ESCAPE must be a single character

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE ' ';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE 'n';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '%';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '*';

## Restoring SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## clean test table

DROP TABLE test1;

# CHARACTER gdk

## DDL

CREATE TABLE test1(a varchar(100)) ENGINE=TIANMU DEFAULT CHARSET=gb2312;

## insert data

INSERT INTO test1 VALUES ('hakan%'), ('hakank'), ("ha%an");

## Setting the Default SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## query of escape

### issue271

SELECT * FROM test1 WHERE a LIKE 'hakan*%' ESCAPE '*';

### issue272

SELECT * FROM test1 WHERE a LIKE 'ha|%an' ESCAPE '|';

### issue273 but with default SQL MODE

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE '';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '\\';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE '\n';

#### sql mod NO_BACKSLASH_ESCAPES

SET @@SQL_MODE='NO_BACKSLASH_ESCAPES';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

#### ESCAPE must be a single character

SELECT * FROM test1 WHERE a LIKE 'hakan%' ESCAPE ' ';

SELECT * FROM test1 WHERE a LIKE 'hakan\n%' ESCAPE 'n';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '%';

SELECT * FROM test1 WHERE a LIKE 'hakan\%' ESCAPE '*';

## Restoring SQL MODE

SET @OLD_SQL_MODE12595=@@SQL_MODE, @@SQL_MODE='';

SHOW LOCAL VARIABLES LIKE 'SQL_MODE';

## clean test table

DROP TABLE test1;

DROP DATABASE issue271_test;
"""

SCRIPT_TRIGGER2F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #
--echo # Several triggers on one table
--echo #

create table t1 (i int, j int)engine=tianmu;

delimiter |;
create trigger trg1 before insert on t1 for each row 
begin
  if new.j > 10 then
    set new.j := 10;
  end if;
end|
create trigger trg2 before update on t1 for each row 
begin
  if old.i % 2 = 0 then
    set new.j := -1;
  end if;
end|
create trigger trg3 after update on t1 for each row 
begin
  if new.j = -1 then
    set @fired:= "Yes";
  end if;
end|
delimiter ;|

set @fired:="";
insert into t1 values (1,2),(2,3),(3,14);
select @fired;
select * from t1;
update t1 set j= 20;
select @fired;
select * from t1;

drop trigger trg1;
drop trigger trg2;
drop trigger trg3;
drop table t1;

--echo #
--echo # Let us test how triggers work for special forms of INSERT such as
--echo # INSERT ... ON DUPLICATE KEY UPDATE
--echo #

create table t1 (id int not null primary key, data int)engine=tianmu;
create trigger t1_bi before insert on t1 for each row
  set @log:= concat(@log, "(BEFORE_INSERT: new=(id=", new.id, ", data=", new.data,"))");
create trigger t1_ai after insert on t1 for each row
  set @log:= concat(@log, "(AFTER_INSERT: new=(id=", new.id, ", data=", new.data,"))");
create trigger t1_bu before update on t1 for each row
  set @log:= concat(@log, "(BEFORE_UPDATE: old=(id=", old.id, ", data=", old.data,
                                        ") new=(id=", new.id, ", data=", new.data,"))");
create trigger t1_au after update on t1 for each row
  set @log:= concat(@log, "(AFTER_UPDATE: old=(id=", old.id, ", data=", old.data,
                                       ") new=(id=", new.id, ", data=", new.data,"))");

# Simple INSERT - both triggers should be called
set @log:= "";
insert into t1 values (1, 1);
select @log;
# INSERT IGNORE for already existing key - only before trigger should fire
set @log:= "";
insert ignore t1 values (1, 2);
select @log;
# INSERT ... ON DUPLICATE KEY UPDATE ...
set @log:= "";
insert into t1 (id, data) values (1, 3), (2, 2) on duplicate key update data= data + 1;
select @log;

drop table t1;
"""

SCRIPT_TRG_ERRF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;


--echo #
--echo # Test of wrong column specifiers in triggers
--echo #

create table t1 (i int)engine=tianmu;
create table t3 (i int)engine=tianmu;

--error 1363
create trigger trg before insert on t1 for each row set @a:= old.i;
--error 1363
create trigger trg before delete on t1 for each row set @a:= new.i;
--error 1362
create trigger trg before update on t1 for each row set old.i:=1;
--error 1363
create trigger trg before delete on t1 for each row set new.i:=1;
--error 1362
create trigger trg after update on t1 for each row set new.i:=1;
--error 1054
create trigger trg before update on t1 for each row set new.j:=1;
--error 1054
create trigger trg before update on t1 for each row set @a:=old.j;


--echo #
--echo # test various trigger creation errors
--echo # Also quickly test table namespace (bug#5892/6182)
--echo # 

--error 1146
create trigger trg before insert on t2 for each row set @a:=1;

create trigger trg before insert on t1 for each row set @a:=1;
--error 1359
create trigger trg after insert on t1 for each row set @a:=1;
--error 1359
create trigger trg before insert on t3 for each row set @a:=1;
create trigger trg2 before insert on t3 for each row set @a:=1;
drop trigger trg2;
drop trigger trg;

--error 1360
drop trigger trg;

create view v1 as select * from t1;
--error 1347
create trigger trg before insert on v1 for each row set @a:=1;
drop view v1;

drop table t1;
drop table t3;

create temporary table t1 (i int)engine=tianmu;
--error 1361
create trigger trg before insert on t1 for each row set @a:=1;
drop table t1;

--echo #
--echo # Triggers with string literals
--echo #

create table t1 (x1col char)engine=tianmu;  
create trigger tx1 before insert on t1 for each row set new.x1col = 'x';
insert into t1 values ('y');
select * from t1;
drop trigger tx1;
drop table t1;
"""

SCRIPT_TRG_DBF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #
--echo # DROP TABLE ，drop triggers
--echo #

create table t1 (a int)engine=tianmu;
create trigger trg1 before insert on t1 for each row set new.a= 10;
drop table t1;
create table t1 (a int)engine=tianmu;
insert into t1 values ();
select * from t1;
drop table t1;

--echo #
--echo # DROP DATABASE，drop triggers.
--echo #

create database mysqltest;
use mysqltest;
create table t1 (i int)engine=tianmu;
create trigger trg1 before insert on t1 for each row set @a:= 1;
# This should succeed
drop database mysqltest;
use test;

--echo #
--echo # "Triggers: Allowed to create triggers on a subject table in a different DB". 
--echo #

create database mysqltest;
create table mysqltest.t1 (i int);
--error 1435
create trigger trg1 before insert on mysqltest.t1 for each row set @a:= 1;
use mysqltest;
--error 1146
create trigger test.trg1 before insert on t1 for each row set @a:= 1;
drop database mysqltest;
use test;
"""

SCRIPT_TRG_MULTIF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #
--echo # Multi-table UPDATE does not activate update triggers
--echo # We will also test how delete triggers wor for multi-table DELETE.
--echo #

create table t1 (i int, j int default 10, k int not null, key (k))engine=tianmu;
create table t2 (i int)engine=tianmu;
insert into t1 (i, k) values (1, 1);
insert into t2 values (1);
create trigger trg1 before update on t1 for each row set @a:= @a + new.j - old.j;
create trigger trg2 after update on t1 for each row set @b:= "Fired";
set @a:= 0, @b:= "";
# Check that trigger works in case of update on the fly
update t1, t2 set j = j + 10 where t1.i = t2.i;
select @a, @b;
insert into t1 values (2, 13, 2);
insert into t2 values (2);
set @a:= 0, @b:= "";
# And now let us check that triggers work in case of multi-update which
# is done through temporary tables...
update t1, t2 set j = j + 15 where t1.i = t2.i and t1.k >= 2;
select @a, @b;
# Let us test delete triggers for multi-delete now.
# We create triggers for both tables because we want test how they
# work in both on-the-fly and via-temp-tables cases.
create trigger trg3 before delete on t1 for each row set @c:= @c + old.j;
create trigger trg4 before delete on t2 for each row set @d:= @d + old.i;
create trigger trg5 after delete on t1 for each row set @e:= "After delete t1 fired";
create trigger trg6 after delete on t2 for each row set @f:= "After delete t2 fired";
set @c:= 0, @d:= 0, @e:= "", @f:= "";
delete t1, t2 from t1, t2 where t1.i = t2.i;
select @c, @d, @e, @f;
# This also will drop triggers
drop table t1, t2;
"""

SCRIPT_TRG_INSSELF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #
--echo #Triggers are not activated for INSERT ... SELECT".
--echo # (We also check the fact that trigger modifies some field does not affect
--echo #  value of next record inserted).
--echo #

delimiter |;
create table t1 (i int, j int default 10)|
create table t2 (i int)|
insert into t2 values (1), (2)|
create trigger trg1 before insert on t1 for each row 
begin
  if new.i = 1 then
    set new.j := 1;
  end if;
end|
create trigger trg2 after insert on t1 for each row set @a:= 1|
set @a:= 0|
insert into t1 (i) select * from t2|
select * from t1|
select @a|
# This also will drop triggers
drop table t1, t2|
delimiter ;|
"""

SCRIPT_TRG_BUGSF = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS trigger_test;
--enable_warnings

CREATE DATABASE trigger_test;

--echo #
--echo #bug569:After update trigger
--echo #

create table t1 (i int)engine=tianmu;
insert into t1 values (1),(2),(3),(4);
create trigger trg after update on t1 for each row
  set @total_change:=@total_change + new.i - old.i;
set @total_change:=0;
update t1 set i=3;
select @total_change;
drop trigger trg;
drop table t1;

--echo #
--echo #bug 570:Before delete trigger
--echo #

create table t1 (i int)engine=tianmu;
insert into t1 values (1),(2),(3),(4);
create trigger trg before delete on t1 for each row
  set @del_sum:= @del_sum + old.i;
set @del_sum:= 0;
delete from t1 where i <= 3;
select @del_sum;
drop trigger trg;
drop table t1;

--echo #
--echo #bug 571:After delete trigger
--echo #

create table t1 (i int)engine=tianmu;
insert into t1 values (1),(2),(3),(4);
create trigger trg after delete on t1 for each row set @del:= 1;
set @del:= 0;
delete from t1 where i <> 0;
select @del;
drop trigger trg;
drop table t1;

--echo #
--echo # bug 580:Trigger.....delete
--echo #

# Trigger which forces invocation of another trigger
# (emulation of FK on delete cascade policy)

create table t1 (id int primary key, fk_t2 int)engine=tianmu;
create table t2 (id int primary key, fk_t3 int)engine=tianmu;
create table t3 (id int primary key)engine=tianmu;
insert into t1 values (1,1), (2,1), (3,2);
insert into t2 values (1,1), (2,2);
insert into t3 values (1), (2);
create trigger t3_ad after delete on t3 for each row
  delete from t2 where fk_t3=old.id;
create trigger t2_ad after delete on t2 for each row
  delete from t1 where fk_t2=old.id;
delete from t3 where id = 1;
select * from t1 left join (t2 left join t3 on t2.fk_t3 = t3.id) on t1.fk_t2 = t2.id;
drop table t1;
drop table t2;
drop table t3;
"""

SCRIPT_ISSUE581F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue581_test;
--enable_warnings

CREATE DATABASE issue581_test;

USE issue581_test;

--disable_warnings

## DDL

DROP TABLE IF EXISTS t1,t2;

CREATE TABLE t1 (id INT PRIMARY KEY, copy INT) ENGINE=TIANMU;
 
CREATE TABLE t2 (id INT PRIMARY KEY, data INT) ENGINE=TIANMU;

## CREATE trigger

CREATE trigger t1_bi before insert on t1 for each row
  set new.copy= (SELECT data FROM t2 where id = new.id);
 
CREATE trigger t1_bu before UPDATE on t1 for each row
  set new.copy= (SELECT data FROM t2 where id = new.id);

## test trigger

### insert data first

INSERT INTO t2 VALUES (1,1), (2,2);

SELECT * FROM t1;
SELECT * FROM t2;

### insert of trigger happen

INSERT INTO t1 VALUES (1,3), (2,4), (3,3);

SELECT * FROM t1;
SELECT * FROM t2;

### UPDATE of trigger happen

UPDATE t1 set copy= 1 where id = 2;

SELECT * FROM t1;
SELECT * FROM t2;

UPDATE t1 set copy= 1 where id = 3;

SELECT * FROM t1;
SELECT * FROM t2;

## clean test TABLE

DROP TABLE IF EXISTS t1,t2;

DROP DATABASE issue581_test;
"""

SCRIPT_ISSUE1318F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1318_test;
--enable_warnings

CREATE DATABASE issue1318_test;

USE issue1318_test;

--echo #
--echo # Secondary INDEX
--echo # 

CREATE TABLE tb_stu_info1 (id int(11) NOT NULL, height int(11) DEFAULT NULL,KEY height (height)) ENGINE=TIANMU;

CREATE TABLE tb_stu_info2 (id int(11) NOT NULL, height int(11) DEFAULT NULL,INDEX height (height)) ENGINE=TIANMU;

CREATE TABLE tb_stu_info3 (id int, col_name varchar(10)) ENGINE=TIANMU;

CREATE INDEX index_name ON tb_stu_info3(col_name);

ALTER TABLE tb_stu_info3 DROP INDEX index_name;

ALTER TABLE  tb_stu_info3  add INDEX  index_name  (col_name) ;


--echo #
--echo # UNIQUE INDEX
--echo #

CREATE TABLE tb_stu_info_1 (id int(11) NOT NULL, height int(11) DEFAULT NULL,UNIQUE KEY height (height)) ENGINE=TIANMU;

CREATE TABLE tb_stu_info_2 (id int(11) NOT NULL, height int(11) DEFAULT NULL,UNIQUE INDEX height (height)) ENGINE=TIANMU;

CREATE TABLE tb_stu_info_3 (id int(11) NOT NULL, height int(11) DEFAULT NULL) ENGINE=TIANMU;

ALTER TABLE tb_stu_info_3 ADD CONSTRAINT constraint_name UNIQUE INDEX(height);

ALTER TABLE tb_stu_info_3 DROP INDEX constraint_name;


--echo #
--echo # TRIGGER
--echo #

CREATE TABLE employees(
   id INT auto_increment PRIMARY KEY,
   employeeNumber INT NOT NULL,
   lastname VARCHAR(50) NOT NULL,
   action VARCHAR(50) DEFAULT NULL) ENGINE=TIANMU;

CREATE TABLE employees_audit(
   id INT auto_increment PRIMARY KEY,
   employeeNumber INT NOT NULL,
   lastname VARCHAR(50) NOT NULL,
   action VARCHAR(50) DEFAULT NULL) ENGINE=TIANMU;

CREATE TABLE employees_audit2(
   id INT auto_increment PRIMARY KEY,
   employeeNumber INT NOT NULL,
   lastname VARCHAR(50) NOT NULL,
   action VARCHAR(50) DEFAULT NULL) ENGINE=TIANMU;


DELIMITER |;
CREATE TRIGGER before_employee_update 
	BEFORE UPDATE ON employees 
	FOR EACH ROW
BEGIN
	INSERT INTO employees_audit 
	SET action = 'update',
	employeeNumber = 1,
	lastname = "nihao",
	new_lastname = "niyehao";
END |
DELIMITER ;|


--echo #
--echo # END
--echo #

# PROBE (not in the reference file): the script has no SELECT of
# its own; prove the DDL + trigger registration executed
SELECT COUNT(*) AS probe FROM employees_audit;
DROP DATABASE issue1318_test;
"""


SCRIPT_ISSUE1599F = """--source include/have_tianmu.inc

--disable_warnings

CREATE DATABASE IF NOT EXISTS test_db_1599;

USE test_db_1599;
 
create table ttt(c1 int,c2 int);
 
insert into ttt values(327266,1),(327267,1),(327268,1),(327269,1),(327270,1);

select c1 from ttt union select 'aaa' c1 from (select c2 from ttt where c1 IN (327265)) x;

select c1 from ttt union all select 'aaa' c1 from (select c2 from ttt where c1 IN (327265)) x;

select c1 from ttt union select 111 c1 from (select c2 from ttt where c1 IN (327265)) x;

select c1 from ttt union all select 111 c1 from (select c2 from ttt where c1 IN (327265)) x;

select 111 c1 from ttt union select 111 c1 from (select c2 from ttt where c1 IN (327265)) x;

select 111 c1 from ttt union all select 111 c1 from (select c2 from ttt where c1 IN (327265)) x;

drop table ttt;

create table ttt(c1 decimal(18,0),c2 decimal(18,0));

insert into ttt values(3000000000027266,1),(3000000000027267,1),(3000000000027268,1),(3000000000027269,1),(3000000000027270,1);

select c1 from ttt union select 'aaa' c1 from (select c2 from ttt where c1 IN (3000000000027265)) x;

select c1 from ttt union select 111 c1 from (select c2 from ttt where c1 IN (3000000000027265)) x;

select 'aaa' c1 from ttt union all select 111 c1 from (select c2 from ttt where c1 IN (3000000000027265)) x;

select 111 c1 from ttt union all select 111 c1 from (select c2 from ttt where c1 IN (3000000000027265)) x;

select c1 from ttt union all select 'aaa' c1 from (select c2 from ttt where c1 IN (3000000000027265)) x;


drop database test_db_1599;
"""

SCRIPT_ISSUE1808F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1808_test;
 
CREATE DATABASE issue1808_test;
 
USE issue1808_test;

--enable_warnings
--disable_query_log

CREATE TABLE ttt(c1 decimal(18,0),c2 decimal(18,0));
INSERT INTO ttt VALUES(3000000000027266,1),(3000000000027267,1),(3000000000027268,1),(3000000000027269,1),(3000000000027270,1);

--enable_query_log
SELECT c1 FROM ttt UNION ALL SELECT 'aaa' c1 FROM (SELECT c2 FROM ttt WHERE c1 IN (3000000000027265)) x ORDER BY c1;

DROP DATABASE issue1808_test;
"""

SCRIPT_ISSUE1860F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1860_test;

CREATE DATABASE issue1860_test;
USE issue1860_test;
--enable_warnings


CREATE TABLE tt(id decimal(18,0), dt datetime) ENGINE =TIANMU;
INSERT INTO  tt VALUES(1111.0, '2023-01-01');

SELECT id FROM tt UNION SELECT 2222 c1 FROM dual;

INSERT INTO tt VALUES(2222.0, '2023-02-02');

SELECT id FROM tt UNION SELECT 2222 c1 FROM dual;
SELECT id FROM tt UNION ALL SELECT 2222 c1 FROM dual;

SELECT id FROM tt UNION SELECT 2222 ;
sELECT id FROM tt UNION ALL SELECT 2222;

SELECT id, dt FROM tt UNION SELECT 2222, '2022-01-01';
SELECT id, dt FROM tt UNION SELECT 2222, str_to_date('2022-02-03', '%Y-%m-%d');
SELECT id, dt FROM tt UNION SELECT 2222, str_to_date('2023-02-02', '%Y-%m-%d');

#ERROR 1105 (HY000): wrong types of columns
--error 1105
SELECT dt FROM tt UNION SELECT 2222;
SELECT dt FROM tt UNION SELECT '2222';

#ERROR 1222 (21000): The used SELECT statements have a different number of columns
--error 1222
SELECT * FROM tt UNION SELECT 222;
--error 1222
SELECT * FROM tt UNION ALL SELECT 222;


DROP TABLE tt;

DROP DATABASE issue1860_test;
"""

SCRIPT_DROP_RESTRICF = """--source include/have_tianmu.inc

--echo #
--echo # DROP TABLE RESTRICT
--echo # The RESTRICT clause limits the table to being dropped in the front end only.
--echo # This could be useful when the table has been dropped on one user module,
--echo # and needs to be synced to others.
--echo #

--disable_warnings
DROP DATABASE IF EXISTS drop_restric_test;
--enable_warnings

CREATE DATABASE drop_restric_test;
USE drop_restric_test;

CREATE TABLE t1 (id INT, name CHAR(25));
INSERT INTO t1 VALUES (1, 'one'), (2, 'two'), (3, 'three'), (4, 'four'), (5, 'five');

SELECT * FROM t1 ORDER BY id;
SELECT COUNT(*) FROM t1;

DROP TABLE IF EXISTS t1 RESTRICT;
--error 1051
DROP TABLE t1;

# Clean up
--disable_warnings
DROP DATABASE IF EXISTS drop_restric_test;
--enable_warnings
"""

SCRIPT_ISSUE1251F = """-- source include/have_tianmu.inc
select (select version() regexp '^5.7.36-StoneDB-v[0-9]*\\\\.[0-9]*\\\\.[0-9]*$') or (select version() regexp '^5.7.36-StoneDB-v[0-9]*\\\\.[0-9]*\\\\.[0-9]*\\\\.[0-9a-z]{9}$');
"""

SCRIPT_ISSUE1848F = """-- source include/have_tianmu.inc

--disable_warnings

--disable_query_log

DROP DATABASE IF EXISTS issue1848_test_db;
CREATE DATABASE issue1848_test_db;

USE issue1848_test_db;

DROP TABLE IF EXISTS squence;

CREATE TABLE sequence (
  `id` bigint(20) NOT NULL AUTO_INCREMENT,
  `created_date` datetime DEFAULT NULL,
  PRIMARY KEY (`id`)
) ENGINE=TIANMU AUTO_INCREMENT=3000000004910127 DEFAULT CHARSET=utf8mb4;

INSERT INTO `sequence` 
VALUES (3000000000010000,'2023-04-17 15:25:11'),
(3000000000010001,'2023-04-17 15:29:14'),
(3000000000010002,'2023-04-17 15:29:14'),
(3000000000010003,'2023-04-17 15:29:14'),
(3000000000010004,'2023-04-17 15:29:14'),
(3000000000010005,'2023-04-17 15:29:14'),
(3000000000010006,'2023-04-17 15:29:14'),
(3000000000010007,'2023-04-17 15:29:14'),
(3000000000010008,'2023-04-17 15:29:14'),
(3000000000010009,'2023-04-17 15:29:14'),
(3000000000010010,'2023-04-17 15:29:14');

--enable_query_log

SELECT GROUP_CONCAT(t.id) FROM sequence t;

--disable_query_log
DROP TABLE sequence;

DROP DATABASE issue1848_test_db;
--enable_query_log

--enable_warnings
"""


SCRIPT_USER_FUNCTION_FULL = """--source include/have_tianmu.inc
--source include/tianmu_utf8.inc

--echo #
--echo # Test function
--echo #

--disable_warnings
DROP DATABASE IF EXISTS user_function_test;
--enable_warnings

CREATE DATABASE user_function_test;
USE user_function_test;

create table test(num int,price int);
insert into test values (3,5);

# test variable settings

--disable_warnings
DROP FUNCTION if exists `myfunTest`;
--enable_warnings

DELIMITER //;
create function `myfunTest`(idx int) returns int 
    begin
        declare res int;                    # 声明定义1个变量, 初值默认为 null
        declare num1, num2 int default 27;  # 声明定义多个变量，初值全部为27
        declare data1, data2 int;           # 声明定义多个变量，初值全部默认为 null
        set num2 = 23, res = num1 + num2;   # 使用set语句, = 操作符赋值
        set data1 = 1, data2 = 1;
        select num, price into data1, data2 from test where num = idx;     # 使用 select into 语句
        set res :=  res * (data1 + data2);      # 使用set语句, := 操作符赋值
        return (res);
    end //
DELIMITER ;//
select myfuntest(5);
drop table test;
drop function myfunTest;


# flow control statements if

--disable_warnings
DROP FUNCTION if exists `getLevelByScore`;
--enable_warnings

DELIMITER //;
create function getLevelByScore(score int)
       returns varchar(255)
       comment '根据成绩获取评级'
    begin
        declare leavel varchar(255);
        if (score >= 90) then
            set leavel = '优秀';
        elseif (score >= 80) then
            set leavel = '中等';
        elseif (score >= 60) then
            set leavel = '及格';
        else
            set leavel = '不及格';
        end if;
        return leavel;
    end//
DELIMITER ;//
select getLevelByScore(10);
drop function getLevelByScore;

--disable_warnings
DROP FUNCTION if exists `SimpleCompare`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION SimpleCompare(n INT, m INT)
  RETURNS VARCHAR(20)

  BEGIN
    DECLARE s VARCHAR(20);
    IF n > m THEN SET s = '>';
    ELSEIF n = m THEN SET s = '=';
    ELSE SET s = '<';
    END IF;

    SET s = CONCAT(n, ' ', s, ' ', m);

    RETURN s;
  END //
DELIMITER ;//
select SimpleCompare(1,6);
select SimpleCompare(6,6);
drop FUNCTION SimpleCompare;

--disable_warnings
DROP FUNCTION if exists `VerboseCompare`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION VerboseCompare (n INT, m INT)
  RETURNS VARCHAR(50)
  BEGIN
    DECLARE s VARCHAR(50);

    IF n = m THEN SET s = 'equals';
    ELSE
      IF n > m THEN SET s = 'greater';
      ELSE SET s = 'less';
      END IF;
      SET s = CONCAT('is ', s, ' than');
    END IF;
    SET s = CONCAT(n, ' ', s, ' ', m, '.');
    RETURN s;
  END //
DELIMITER ;//
select VerboseCompare(5,7);
drop FUNCTION VerboseCompare;

# flow control statements while

--disable_warnings
DROP function if exists `getSum`;
--enable_warnings

DELIMITER //;
create function getSum(num int)
        returns int
        comment '计算0-num的和'
    begin
        declare i,sum int default 0;
        while (i<=num) do
            set sum = sum + i;
            set i = i + 1;
        end while;
        return sum;
    end//
DELIMITER ;//
select getsum(10);
ALTER FUNCTION `getSum` comment 'test';
DROP function `getSum`;

CREATE TABLE IF NOT EXISTS `t_base_pinyin` (
  `pin_yin_` varchar(255) CHARACTER SET gbk NOT NULL,
  `code_` int(11) NOT NULL,
  PRIMARY KEY (`code_`)
)DEFAULT CHARSET=latin1;

INSERT INTO t_base_pinyin (pin_yin_,code_)  
VALUES ("a", 20319),("ai", 20317),("an", 20304),("ang", 20295),("ao", 20292),("ba", 20283),("bai", 20265),("ban", 20257),("bang", 20242),("bao", 20230),("bei", 20051),("ben", 20036),("beng", 20032),("bi", 20026),("bian", 20002),("biao", 19990),("bie", 19986),("bin", 19982),("bing", 19976),("bo", 19805),("bu", 19784),("ca", 19775),("cai", 19774),("can", 19763),("cang", 19756),("cao", 19751),("ce", 19746),("ceng", 19741),("cha", 19739),("chai", 19728),("chan", 19725),("chang", 19715),("chao", 19540),("che", 19531),("chen", 19525),("cheng", 19515),("chi", 19500),("chong", 19484),("chou", 19479),("chu", 19467),("chuai", 19289),("chuan", 19288),("chuang", 19281),("chui", 19275),("chun", 19270),("chuo", 19263),("ci", 19261),("cong", 19249),("cou", 19243),("cu", 19242),("cuan", 19238),("cui", 19235),("cun", 19227),("cuo", 19224),("da", 19218),("dai", 19212),("dan", 19038),("dang", 19023),("dao", 19018),("de", 19006),("deng", 19003),("di", 18996),("dian", 18977),("diao", 18961),("die", 18952),("ding", 18783),("diu", 18774),("dong", 18773),("dou", 18763),("du", 18756),("duan", 18741),("dui", 18735),("dun", 18731),("duo", 18722),("e", 18710),("en", 18697),("er", 18696),("fa", 18526),("fan", 18518),("fang", 18501),("fei", 18490),("fen", 18478),("feng", 18463),("fo", 18448),("fou", 18447),("fu", 18446),("ga", 18239),("gai", 18237),("gan", 18231),("gang", 18220),("gao", 18211),("ge", 18201),("gei", 18184),("gen", 18183),("geng", 18181),("gong", 18012),("gou", 17997),("gu", 17988),("gua", 17970),("guai", 17964),("guan", 17961),("guang", 17950),("gui", 17947),("gun", 17931),("guo", 17928),("ha", 17922),("hai", 17759),("han", 17752),("hang", 17733),("hao", 17730),("he", 17721),("hei", 17703),("hen", 17701),("heng", 17697),("hong", 17692),("hou", 17683),("hu", 17676),("hua", 17496),("huai", 17487),("huan", 17482),("huang", 17468),("hui", 17454),("hun", 17433),("huo", 17427),("ji", 17417),("jia", 17202),("jian", 17185),("jiang", 16983),("jiao", 16970),("jie", 16942),("jin", 16915),("jing", 16733),("jiong", 16708),("jiu", 16706),("ju", 16689),("juan", 16664),("jue", 16657),("jun", 16647),("ka", 16474),("kai", 16470),("kan", 16465),("kang", 16459),("kao", 16452),("ke", 16448),("ken", 16433),("keng", 16429),("kong", 16427),("kou", 16423),("ku", 16419),("kua", 16412),("kuai", 16407),("kuan", 16403),("kuang", 16401),("kui", 16393),("kun", 16220),("kuo", 16216),("la", 16212),("lai", 16205),("lan", 16202),("lang", 16187),("lao", 16180),("le", 16171),("lei", 16169),("leng", 16158),("li", 16155),("lia", 15959),("lian", 15958),("liang", 15944),("liao", 15933),("lie", 15920),("lin", 15915),("ling", 15903),("liu", 15889),("long", 15878),("lou", 15707),("lu", 15701),("lv", 15681),("luan", 15667),("lue", 15661),("lun", 15659),("luo", 15652),("ma", 15640),("mai", 15631),("man", 15625),("mang", 15454),("mao", 15448),("me", 15436),("mei", 15435),("men", 15419),("meng", 15416),("mi", 15408),("mian", 15394),("miao", 15385),("mie", 15377),("min", 15375),("ming", 15369),("miu", 15363),("mo", 15362),("mou", 15183),("mu", 15180),("na", 15165),("nai", 15158),("nan", 15153),("nang", 15150),("nao", 15149),("ne", 15144),("nei", 15143),("nen", 15141),("neng", 15140),("ni", 15139),("nian", 15128),("niang", 15121),("niao", 15119),("nie", 15117),("nin", 15110),("ning", 15109),("niu", 14941),("nong", 14937),("nu", 14933),("nv", 14930),("nuan", 14929),("nue", 14928),("nuo", 14926),("o", 14922),("ou", 14921),("pa", 14914),("pai", 14908),("pan", 14902),("pang", 14894),("pao", 14889),("pei", 14882),("pen", 14873),("peng", 14871),("pi", 14857),("pian", 14678),("piao", 14674),("pie", 14670),("pin", 14668),("ping", 14663),("po", 14654),("pu", 14645),("qi", 14630),("qia", 14594),("qian", 14429),("qiang", 14407),("qiao", 14399),("qie", 14384),("qin", 14379),("qing", 14368),("qiong", 14355),("qiu", 14353),("qu", 14345),("quan", 14170),("que", 14159),("qun", 14151),("ran", 14149),("rang", 14145),("rao", 14140),("re", 14137),("ren", 14135),("reng", 14125),("ri", 14123),("rong", 14122),("rou", 14112),("ru", 14109),("ruan", 14099),("rui", 14097),("run", 14094),("ruo", 14092),("sa", 14090),("sai", 14087),("san", 14083),("sang", 13917),("sao", 13914),("se", 13910),("sen", 13907),("seng", 13906),("sha", 13905),("shai", 13896),("shan", 13894),("shang", 13878),("shao", 13870),("she", 13859),("shen", 13847),("sheng", 13831),("shi", 13658),("shou", 13611),("shu", 13601),("shua", 13406),("shuai", 13404),("shuan", 13400),("shuang", 13398),("shui", 13395),("shun", 13391),("shuo", 13387),("si", 13383),("song", 13367),("sou", 13359),("su", 13356),("suan", 13343),("sui", 13340),("sun", 13329),("suo", 13326),("ta", 13318),("tai", 13147),("tan", 13138),("tang", 13120),("tao", 13107),("te", 13096),("teng", 13095),("ti", 13091),("tian", 13076),("tiao", 13068),("tie", 13063),("ting", 13060),("tong", 12888),("tou", 12875),("tu", 12871),("tuan", 12860) ,("tui", 12858),("tun", 12852),("tuo", 12849),("wa", 12838),("wai", 12831),("wan", 12829),("wang", 12812),("wei", 12802),("wen", 12607),("weng", 12597),("wo", 12594),("wu", 12585),("xi", 12556),("xia", 12359),("xian", 12346),("xiang", 12320),("xiao", 12300),("xie", 12120),("xin", 12099),("xing", 12089),("xiong", 12074),("xiu", 12067),("xu", 12058),("xuan", 12039),("xue", 11867),("xun", 11861),("ya", 11847),("yan", 11831),("yang", 11798),("yao", 11781),("ye", 11604),("yi", 11589),("yin", 11536),("ying", 11358),("yo", 11340),("yong", 11339),("you", 11324),("yu", 11303),("yuan", 11097),("yue", 11077),("yun", 11067),("za", 11055),("zai", 11052),("zan", 11045),("zang", 11041),("zao", 11038),("ze", 11024),("zei", 11020),("zen", 11019),("zeng", 11018),("zha", 11014),("zhai", 10838),("zhan", 10832),("zhang", 10815),("zhao", 10800),("zhe", 10790),("zhen", 10780),("zheng", 10764),("zhi", 10587),("zhong", 10544),("zhou", 10533),("zhu", 10519),("zhua", 10331),("zhuai", 10329),("zhuan", 10328),("zhuang", 10322),("zhui", 10315),("zhun", 10309),("zhuo", 10307),("zi", 10296),("zong", 10281),("zou", 10274),("zu", 10270),("zuan", 10262),("zui", 10260),("zun", 10256),("zuo", 10254);

--disable_warnings
DROP FUNCTION IF EXISTS PINYIN;
--enable_warnings

DELIMITER //;
CREATE FUNCTION PINYIN(NAME VARCHAR(255) CHARSET GBK)
RETURNS VARCHAR(255) CHARSET gbk
BEGIN
    DECLARE mycode INT;
    DECLARE tmp_lcode VARCHAR(2) CHARSET gbk;
    DECLARE lcode INT;
    DECLARE tmp_rcode VARCHAR(2) CHARSET gbk;
    DECLARE rcode INT;
    DECLARE mypy VARCHAR(255) CHARSET gbk DEFAULT '';
    DECLARE lp INT;
    SET mycode = 0;
    SET lp = 1;
    SET NAME = HEX(NAME);
    WHILE lp < LENGTH(NAME) DO
        SET tmp_lcode = SUBSTRING(NAME, lp, 2);
        SET lcode = CAST(ASCII(UNHEX(tmp_lcode)) AS UNSIGNED);
        SET tmp_rcode = SUBSTRING(NAME, lp + 2, 2);
        SET rcode = CAST(ASCII(UNHEX(tmp_rcode)) AS UNSIGNED);
        IF lcode > 128 THEN
            SET mycode =65536 - lcode * 256 - rcode ;
            SELECT CONCAT(mypy,pin_yin_) INTO mypy FROM t_base_pinyin WHERE CODE_ >= ABS(mycode) ORDER BY CODE_ ASC LIMIT 1;
        SET lp = lp + 4;
        ELSE
SET mypy = CONCAT(mypy,CHAR(CAST(ASCII(UNHEX(SUBSTRING(NAME, lp, 2))) AS UNSIGNED)));
            SET lp = lp + 2;
        END IF;
    END WHILE;
    RETURN LOWER(mypy);
END//
DELIMITER ;//
select PINYIN('测试');
select PINYIN('石原子');
DROP FUNCTION PINYIN;
drop table t_base_pinyin;

# flow control statements case

--disable_warnings
DROP FUNCTION if exists `pro_test`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION pro_test(a int) returns int
  BEGIN
    DECLARE v INT DEFAULT 1;
    set v = a;
    CASE v
      WHEN 2 THEN return v;
      WHEN 3 THEN return 0;
      ELSE
        BEGIN
			return 8;
        END;
    END CASE;
  END
//
DELIMITER ;//
select pro_test(3);
select pro_test(5);
select pro_test(2);
DROP FUNCTION `pro_test`;

--disable_warnings
DROP FUNCTION if exists `getGrade`;
--enable_warnings

DELIMITER //;
create function getGrade(mark int)
returns VARCHAR(20)
begin
return (
       case FLOOR(mark/10)
       when 5 then '不及格'
       when 6 then '继续努力'
       when 7 then '成绩良好'
       else '成绩优秀'
       end);
END//
DELIMITER ;//
select getGrade(30);
select getGrade(50);
select getGrade(20);
drop function getGrade;

--disable_warnings
DROP FUNCTION if exists `tohanzi`;
--enable_warnings

DELIMITER //;
create FUNCTION tohanzi (n_LowerMoney DECIMAL)
RETURNS VARCHAR(120)
BEGIN
	Declare v_LowerStr VARCHAR(200) ;
	Declare v_UpperPart VARCHAR(200) ;
	Declare v_UpperStr VARCHAR(200) ;
	Declare i_I int ;
	set v_LowerStr = LTRIM(RTRIM(ROUND(n_LowerMoney,2 ) ) ) ;
	set i_I = 1 ;
	set v_UpperStr = '' ;
	while ( i_I <=char_length(v_LowerStr ) ) do
		set v_UpperPart = CONCAT( case substring(v_LowerStr,char_length(v_LowerStr) - i_I + 1,1 )
		WHEN '.' THEN '元'
		WHEN '0' THEN '零'
		WHEN '1' THEN '壹'
		WHEN '2' THEN '贰'
		WHEN '3' THEN '叁'
		WHEN '4' THEN '肆'
		WHEN '5' THEN '伍'
		WHEN '6' THEN '陆'
		WHEN '7' THEN '柒'
		WHEN '8' THEN '捌'
		WHEN '9' THEN '玖'
	END,
	case i_I
		WHEN 1 THEN '分'
		WHEN 2 THEN '角'
		WHEN 3 THEN ''
		WHEN 4 THEN ''
		WHEN 5 THEN '拾'
		WHEN 6 THEN '佰'
		WHEN 7 THEN '仟'
		WHEN 8 THEN '万'
		WHEN 9 THEN '拾'
		WHEN 10 THEN '佰'
		WHEN 11 THEN '仟'
		WHEN 12 THEN '亿'
		WHEN 13 THEN '拾'
		WHEN 14 THEN '佰'
		WHEN 15 THEN '仟'
		WHEN 16 THEN '万'
		ELSE ''
	END );
		set v_UpperStr =CONCAT( v_UpperPart , v_UpperStr) ;
		set i_I = i_I + 1 ;
	end while;
	set v_UpperStr = REPLACE(v_UpperStr,'零拾','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零佰','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零仟','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零零零','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零零','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零角零分','整') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零分','整') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零角','零') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零亿零万零元','亿元') ;
	set v_UpperStr = REPLACE(v_UpperStr,'亿零万零元','亿元') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零亿零万','亿') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零万零元','万元') ;
	set v_UpperStr = REPLACE(v_UpperStr,'万零元','万元') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零亿','亿') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零万','万') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零元','元') ;
	set v_UpperStr = REPLACE(v_UpperStr,'零零','零') ;
	if ( '元' = substring(v_UpperStr,1,1)) then
	set v_UpperStr = substring(v_UpperStr,2,(char_length(v_UpperStr) - 1));
	end if;
	if ( '零' = substring(v_UpperStr,1,1)) then
	set v_UpperStr = substring(v_UpperStr,2,(char_length(v_UpperStr) - 1)) ;
	end if;
	if ( '角' = substring(v_UpperStr,1,1)) then
	set v_UpperStr = substring(v_UpperStr,2,(char_length(v_UpperStr) - 1)) ;
	end if;
	if ( '分' = substring(v_UpperStr,1,1)) then
	set v_UpperStr = substring(v_UpperStr,2,(char_length(v_UpperStr) - 1)) ;
	end if;
	if ('整' = substring(v_UpperStr,1,1)) then
	set v_UpperStr = '零元整' ;
	end if;
	return v_UpperStr;
END//
DELIMITER ;//
select tohanzi(123123);
DROP FUNCTION `tohanzi`;

# flow control statements loop

--disable_warnings
DROP FUNCTION if exists `s_loop`;
--enable_warnings

delimiter //;
create FUNCTION s_loop() returns int
begin
    # 声明计数器
    declare i int default 1;
    # 开始循环
    num:
    loop
        # 查询计数器记录的值
        # 判断大于等于停止计数
        if i >= 3 then
            leave num;
        end if;
        # 计数器自增1
        set i = i + 1;
    # 结束循环
    end loop num;
	return i;
end //
delimiter ;//
select s_loop();
DROP FUNCTION `s_loop`;

--disable_warnings
DROP FUNCTION if exists `testLeave`;
--enable_warnings

delimiter //;
create function testLeave()
    returns varchar(255)
begin
    declare i,j int default 0;
    loop1: while (i<=5) do 
        set j = 0;
        while (j<=i) do
            if(j = 3) then
                leave loop1;
            end if;
            set j = j + 1;
        end while; 
        set i = i + 1;
    end while loop1;
    return concat('i: ', i, ' j:', j);
end//
delimiter ;//
select testLeave();
DROP FUNCTION `testLeave`;

--disable_warnings
DROP FUNCTION if exists `testIterate`;
--enable_warnings

delimiter //;
create
    function testIterate()
    returns varchar(255)
begin
    declare i,j int default 0;
    loop1: while (i<=5) do
        set i = i + 1;
        set j = 0;
        while (j<=i) do
            if(j = 3) then
                iterate loop1;
            end if;
            set j = j + 1;
        end while;
    end while loop1;
    return concat('i: ', i, ' j:', j);
end//
delimiter ;//
select testIterate();
DROP FUNCTION `testIterate`;

--disable_warnings
DROP FUNCTION if exists `myadd`;
--enable_warnings

drop FUNCTION if exists myadd;
delimiter //;
create FUNCTION myadd(a int) returns int
begin
    return a;
end
//
delimiter ;//
select myadd(3);
drop FUNCTION myadd;

--disable_warnings
DROP FUNCTION if exists `is_id_card`;
--enable_warnings

DELIMITER //;
DROP FUNCTION IF EXISTS `is_id_card`//
CREATE FUNCTION `is_id_card` (number VARCHAR (20) CHARSET utf8) RETURNS TINYINT (1)
BEGIN
	DECLARE flag BOOL DEFAULT FALSE ;
	IF (
		LENGTH(number) = 18
		and number REGEXP '[1-9]{1}[0-9]{17}|[1-9]{1}[0-9]{16}X'
		AND substr(number,7,4) between '1900' and year(now())
		AND SUBSTR(number,11,2) BETWEEN '01' AND '12'
		AND SUBSTR(number,13,2) BETWEEN '01' AND DAY(LAST_DAY(CONCAT(SUBSTR(number,7,4),'-',SUBSTR(number,11,2),'-01')))
		OR (
			LENGTH(number) = 15
			AND number REGEXP '[1-9]{1}[0-9]{14}'
			AND substr(number,7,2) between '00' and '99'
			AND SUBSTR(number,9,2) BETWEEN '01' AND '12'
			AND SUBSTR(number,11,2) BETWEEN '01' AND DAY(LAST_DAY(CONCAT('19',SUBSTR(number,7,2),'-',SUBSTR(number,9,2),'-01')))
		)
	)
	THEN SET flag = TRUE ;
	END IF ;
	RETURN flag ;
END //
DELIMITER ;//
select is_id_card('410725199709119870');
DROP FUNCTION `is_id_card`;

--disable_warnings
DROP FUNCTION if exists `rank_test`;
--enable_warnings

DELIMITER //;
CREATE FUNCTION rank_test(col_name VARCHAR (50) CHARSET utf8) RETURNS VARCHAR (50)
BEGIN
	RETURN  replace(replace(replace(col_name,'省',''),'市',''),'县','');
END //
DELIMITER ;//
DROP FUNCTION `rank_test`;

# clean up
drop database user_function_test;
"""


SCRIPT_ISSUE538F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue538_test;
--enable_warnings

CREATE DATABASE issue538_test;

USE issue538_test;

--echo #
--echo # issue 538 test for user defined function of tianmu
--echo #

--disable_warnings

# User-defined function parameter table data query

DROP TABLE IF EXISTS employees;

CREATE TABLE `employees` (
  `employee_id` int(11) NOT NULL ,
  `employee_name` varchar(50) NOT NULL,
  `employee_sex` varchar(10) DEFAULT 'men',
  `hire_date` datetime DEFAULT NULL,
  `employee_mgr` int(11) DEFAULT NULL,
  `employee_salary` float DEFAULT '3000',
  `department_id` int(11) DEFAULT NULL
) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

DROP FUNCTION IF EXISTS get_desc;
DROP FUNCTION IF EXISTS get_salary;

CREATE FUNCTION get_desc(id INT) RETURNS VARCHAR(300) 
  RETURN (SELECT CONCAT('employee name:',employee_name,'---','salary: ',employee_salary) FROM employees WHERE employee_id=id);

CREATE FUNCTION get_salary(id INT) RETURNS FLOAT
  RETURN (SELECT employee_salary FROM employees WHERE employee_id=id);

--disable_query_log

INSERT INTO employees(employee_id,employee_name,employee_sex,employee_mgr,employee_salary,department_id) VALUES (1,'David Tian','man',10,7500,1);
INSERT INTO employees(employee_id,employee_name,employee_sex,employee_mgr,employee_salary,department_id) VALUES (2,'Black Xie','man',10,6600,1);
INSERT INTO employees(employee_id,employee_name,employee_sex,employee_mgr,employee_salary,department_id) VALUES (3,'Moses Wang','man',10,4300,1);
INSERT INTO employees(employee_id,employee_name,employee_sex,employee_mgr,employee_salary,department_id) VALUES (4,'Rena Ruan','woman',10,5300,1);
INSERT INTO employees(employee_id,employee_name,employee_sex,employee_mgr,employee_salary,department_id) VALUES (5,'Sunshine Ma','woman',10,6500,2);

--enable_query_log

# User-defined functions as simple projection conditions

SELECT
	a.employee_id,
	get_desc(b.employee_id)
FROM
	employees a
LEFT JOIN employees b ON
	a.employee_id = b.employee_id
	and b.employee_name = 'David Tian';

# User - defined function parameters aggregate function operations

SELECT
	sum(200 + get_salary(b.employee_id))
FROM
	employees a
LEFT JOIN employees b ON
	a.employee_id = b.employee_id
	and b.employee_name = 'David Tian';

# User-defined function as the ON predicate of the LEFT JOIN

SELECT
	a.employee_id,
	get_desc(b.employee_id)
FROM
	employees a
LEFT JOIN employees b ON
	a.employee_salary = get_salary(b.employee_id)
	and b.employee_name = 'David Tian';

# User-defined functions as interval predicates

SELECT
	a.employee_id,
	get_desc(b.employee_id)
FROM
	employees a
LEFT JOIN employees b ON
	b.employee_name = 'David Tian'
WHERE
	a.employee_salary < get_salary(b.employee_id);

SELECT
	a.employee_id,
	get_desc(b.employee_id)
FROM
	employees a
LEFT JOIN employees b ON
	b.employee_name = 'David Tian'
WHERE
	a.employee_salary > get_salary(b.employee_id);

# User-defined functions as equivalent predicates

SELECT
	a.employee_id,
	get_desc(b.employee_id)
FROM
	employees a
LEFT JOIN employees b ON
	b.employee_name = 'David Tian'
WHERE
	a.employee_salary = get_salary(b.employee_id);

SELECT
    a.employee_id,
    get_desc(b.employee_id)
FROM
    employees a
LEFT JOIN employees b ON
    b.employee_name = 'David Tian'
WHERE
    get_salary(b.employee_id) = a.employee_salary;

# User-defined functions generate derived tables

## User - defined functions as simple driver tables

SELECT
	get_desc(a.employee_id),
	b.employee_salary
FROM
	employees as a,
	(
	SELECT
		get_salary(employees.employee_id) as employee_salary
	FROM
		employees) as b
WHERE
	a.employee_name = 'David Tian'
	AND a.employee_salary = b.employee_salary;

## User-defined functions as nested driver tables

SELECT
	get_desc(a.employee_id),
	b.employee_salary
FROM
	employees as a,
	(
	SELECT
		get_salary(e.employee_id) as employee_salary
	FROM
		(
		SELECT
			c.employee_id
		FROM
			(
			SELECT
				employee_id,
				get_salary(employees.employee_id) as employee_salary
			FROM
				employees
			WHERE
				employee_salary > 500) as c) as e ) as b
WHERE
	a.employee_name = 'David Tian'
	AND a.employee_salary = b.employee_salary;

# User - defined functions directly generate driver tables

SELECT
	*
FROM
	employees,
	(
	SELECT
		get_salary(1) ) as ta
WHERE
	employees.employee_name = 'David Tian';

SELECT
	*
FROM
	employees,
	(
	SELECT
		get_salary(employees.employee_id)
	FROM
		employees ) as ta
WHERE
	employees.employee_name = 'David Tian';

# User-defined functions directly derived table

SELECT
	employee_id,
	ta.sal
FROM
	employees,
	(
		SELECT get_salary(1) as sal) as ta
WHERE
	employees.employee_name = 'David Tian';

# User-defined functions LEFT JOIN

SELECT
	employee_id
FROM
	employees
LEFT JOIN ((
	SELECT
		get_salary(1) as employee_salary) as ta) ON
	employees.employee_salary = ta.employee_salary
WHERE
	employees.employee_name = 'David Tian';

# User-defined functions only derived tables

SELECT
	ta.sal
FROM
	(
		SELECT get_salary(1) as sal) as ta;

SELECT
	ta.const,
	ta.sal
FROM
	(
	SELECT
		3 as const,
		get_salary(1) as sal) as ta;

# User-defined functions as simple stand-alone queries

SELECT get_desc(1);
SELECT get_desc(1),get_desc(1);
SELECT get_desc(1),get_desc(1),get_desc(1);
SELECT 1,get_desc(1);
SELECT 1,2,get_desc(1);

DROP TABLE employees;
DROP FUNCTION get_desc;
DROP FUNCTION get_salary;

# User-defined functions do not depend ON tables and only do simple numerical calculations

DROP TABLE IF EXISTS tf;

CREATE TABLE tf (a int) ENGINE=TIANMU DEFAULT CHARSET=utf8mb4;

DROP FUNCTION IF EXISTS sfunc;

CREATE FUNCTION sfunc (a int) RETURNS int RETURN (a+1);
INSERT tf VALUES(1);

SELECT sfunc(2);

DROP TABLE tf;
DROP FUNCTION sfunc;

DROP DATABASE issue538_test;
"""


SCRIPT_ISSUE850F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue850_test;
--enable_warnings

CREATE DATABASE issue850_test;

USE issue850_test;

CREATE TABLE IF NOT EXISTS `lineorder` (
  `lo_orderkey` int NOT NULL COMMENT "",
  `lo_linenumber` int NOT NULL COMMENT "",
  `lo_custkey` int NOT NULL COMMENT "",
  `lo_partkey` int NOT NULL COMMENT "",
  `lo_suppkey` int NOT NULL COMMENT "",
  `lo_orderdate` int NOT NULL COMMENT "",
  `lo_orderpriority` varchar(16) NOT NULL COMMENT "",
  `lo_shippriority` int NOT NULL COMMENT "",
  `lo_quantity` int NOT NULL COMMENT "",
  `lo_extendedprice` int NOT NULL COMMENT "",
  `lo_ordtotalprice` int NOT NULL COMMENT "",
  `lo_discount` int NOT NULL COMMENT "",
  `lo_revenue` int NOT NULL COMMENT "",
  `lo_supplycost` int NOT NULL COMMENT "",
  `lo_tax` int NOT NULL COMMENT "",
  `lo_commitdate` int NOT NULL COMMENT "",
  `lo_shipmode` varchar(11) NOT NULL COMMENT ""
)engine = tianmu;

CREATE TABLE IF NOT EXISTS `customer` (
  `c_custkey` int(11) NOT NULL COMMENT "",
  `c_name` varchar(26) NOT NULL COMMENT "",
  `c_address` varchar(41) NOT NULL COMMENT "",
  `c_city` varchar(11) NOT NULL COMMENT "",
  `c_nation` varchar(16) NOT NULL COMMENT "",
  `c_region` varchar(13) NOT NULL COMMENT "",
  `c_phone` varchar(16) NOT NULL COMMENT "",
  `c_mktsegment` varchar(11) NOT NULL COMMENT ""
)engine = tianmu;

CREATE TABLE IF NOT EXISTS `supplier` (
  `s_suppkey` int(11) NOT NULL COMMENT "",
  `s_name` varchar(26) NOT NULL COMMENT "",
  `s_address` varchar(26) NOT NULL COMMENT "",
  `s_city` varchar(11) NOT NULL COMMENT "",
  `s_nation` varchar(16) NOT NULL COMMENT "",
  `s_region` varchar(13) NOT NULL COMMENT "",
  `s_phone` varchar(16) NOT NULL COMMENT ""
)engine = tianmu;

CREATE TABLE IF NOT EXISTS `part` (
  `p_partkey` int(11) NOT NULL COMMENT "",
  `p_name` varchar(23) NOT NULL COMMENT "",
  `p_mfgr` varchar(7) NOT NULL COMMENT "",
  `p_category` varchar(8) NOT NULL COMMENT "",
  `p_brand` varchar(10) NOT NULL COMMENT "",
  `p_color` varchar(12) NOT NULL COMMENT "",
  `p_type` varchar(26) NOT NULL COMMENT "",
  `p_size` int(11) NOT NULL COMMENT "",
  `p_container` varchar(11) NOT NULL COMMENT ""
) engine = tianmu;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue850_customer.txt' into table customer fields terminated by '|';

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue850_lineorder.txt' into table lineorder fields terminated by '|';

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue850_part.txt' into table part fields terminated by '|';

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue850_supplier.txt' into table supplier fields terminated by '|';

--replace_result $MYSQLTEST_VARDIR MYSQLTEST_VARDIR
eval select `LO_ORDERDATE` , `LO_ORDERKEY` , `LO_LINENUMBER` , `LO_CUSTKEY` , `LO_PARTKEY` , `LO_SUPPKEY` , `LO_ORDERPRIORITY` , `LO_SHIPPRIORITY` , `LO_QUANTITY` , `LO_EXTENDEDPRICE` , `LO_ORDTOTALPRICE` , `LO_DISCOUNT` , `LO_REVENUE` , `LO_SUPPLYCOST` , `LO_TAX` , `LO_COMMITDATE` , `LO_SHIPMODE` , `C_NAME` , `C_ADDRESS` , `C_CITY` , `C_NATION` , `C_REGION` , `C_PHONE` , `C_MKTSEGMENT` , `S_NAME` , `S_ADDRESS` , `S_CITY` , `S_NATION` , `S_REGION` , `S_PHONE` , `P_NAME` , `P_MFGR` , `P_CATEGORY` , `P_BRAND` , `P_COLOR` , `P_TYPE` , `P_SIZE` , `P_CONTAINER` from lineorder l INNER JOIN customer c ON (c.C_CUSTKEY = l.LO_CUSTKEY)  INNER JOIN supplier s ON (s.S_SUPPKEY = l.LO_SUPPKEY)  INNER JOIN part p ON  (p.P_PARTKEY = l.LO_PARTKEY) where lo_orderdate >=19980101 and lo_orderdate <19990101 INTO OUTFILE "$MYSQLTEST_VARDIR/tmp/issue850_out.txt" fields terminated by ',' optionally enclosed by '"' escaped by '"' lines terminated by '\\r\\n';
--diff_files $MYSQL_TEST_DIR/suite/tianmu/std_data/issue850_out.txt $MYSQLTEST_VARDIR/tmp/issue850_out.txt

--remove_file $MYSQLTEST_VARDIR/tmp/issue850_out.txt

# PROBE (not in the reference file): the --diff_files check above is
# the verification (byte-exact per line, sorted); prove the load ran
SELECT COUNT(*) AS probe FROM lineorder;
drop table customer;
drop table lineorder;
drop table part;
drop table supplier;

DROP DATABASE issue850_test;
"""

SCRIPT_ISSUE1855F = """-- source include/have_tianmu.inc

--disable_warnings

--disable_query_log

DROP DATABASE IF EXISTS issue1855_test_db;
CREATE DATABASE issue1855_test_db;

USE issue1855_test_db;

DROP TABLE IF EXISTS squence;

CREATE TABLE ttt (
  p_id varchar(50) NOT NULL,
  p_val int NOT NULL
) ENGINE=TIANMU AUTO_INCREMENT=3000000004910127 DEFAULT CHARSET=utf8mb4;

INSERT INTO `ttt` 
VALUES("THIS IS", 20),
("THIS IS", 5),
("A TEST", 2),
("FOR SUM LENGTH", 10);
--enable_query_log

SELECT SUM(LENGTH(p_id)) FROM ttt;

SELECT SUM(LENGTH(p_id)/2) FROM ttt;

SELECT SUM(LENGTH(p_val)) FROM ttt;

SELECT SUM(LENGTH(p_val)/2) FROM ttt;
"""

SCRIPT_ISSUE1332F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1332;
--enable_warnings
CREATE DATABASE issue1332;
USE issue1332;

--disable_warnings
drop table if exists tb;
--enable_warnings


# fix between ... and ... : https://github.com/stoneatom/stonedb/issues/1332
# test values with boundary, with not null, tinyint~mediumint never be overflow, decimal cond has been tested in where_conditions.test.
create table tb(a bigint, b int, c DATETIME) engine=tianmu;
insert into tb values(-9223372036854775806, 2147483647, '1111-11-11 11:11:11'),
       (-922337203685477580, -2147483647, '1111-11-11 11:11:11'),
       (-55, -55, '1111-11-11 11:11:11'),
       (-22, 22, '1111-11-11 11:11:11'),
       (-10, 33, '1111-11-11 11:11:11'),
       (-4, 44, '1111-11-11 11:11:11'),
       (0, 0, '1111-11-11 11:11:11'),
       (2, 2, '1111-11-11 11:11:11'),
       (6, 6, '1111-11-11 11:11:11'),
       (9223372036854775807, 8, '1111-11-11 11:11:11');
select * from tb;
select * from tb where a < -10;
select * from tb where a > 4567890123456789;
select * from tb where a > 0;
select * from tb where a between -9223372036854775806 and 0;
select * from tb where a between -9223372036854775807 and 0; # NULL_VALUE
select * from tb where a between -9223372036854775808 and 9223372036854775807; # min~max
select * from tb where a between -22 and 7;
select * from tb where a not in (3);
select * from tb where a not in (-3,3);
select * from tb where a not in (-3);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a in (select sum(b) from tb where b < 6);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

select * from tb where b < -10;
select * from tb where b < 2147483647;
select * from tb where b > -2147483647;
select * from tb where b > 0;
select * from tb where b between -2147483647 and 0;
select * from tb where b between -22 and 7;
select * from tb where b not in (3);
select * from tb where b not in (-3,3);
select * from tb where b not in (-3);
select * from tb where b in (-3);
select * from tb where b in (-3, 3);
select * from tb where b is null; # emtpy
select * from tb where b is not null; # emtpy
select * from tb where b in (not null); # emtpy
select * from tb where b not in (null); # emtpy
SELECT * FROM tb WHERE c BETWEEN '111-11-10' AND '1111-11-12';

# test with null
insert into tb values(null, null, null), (null, null, null);
select * from tb;
select * from tb where a < -10;
select * from tb where a > 4567890123456789;
select * from tb where a > 0;
select * from tb where a between -9223372036854775806 and 0;
select * from tb where a between -22 and 7;
select * from tb where a not in (3);
select * from tb where a not in (-3,3);
select * from tb where a not in (-3);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

drop table tb;

# test normal values, with not null
create table tb(a bigint) engine=tianmu;
insert into tb values(-55), (-22), (-10), (-4), (0), (2), (6);
select * from tb;
select * from tb where a < -55;
select * from tb where a < 0;
select * from tb where a > 6;
select * from tb where a > 0;
select * from tb where a between -9223372036854775806 and 0;
select * from tb where a between -22 and 7;
select * from tb where a between 22 and 33;
select * from tb where a between -555 and -56;
select * from tb where a not in (3333);
select * from tb where a not in (-3,3333);
select * from tb where a not in (-33333);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

# test with null
insert into tb values(null), (null);
select * from tb;
select * from tb where a < -55;
select * from tb where a < 0;
select * from tb where a > 6;
select * from tb where a > 0;
select * from tb where a between -9223372036854775806 and 0;
select * from tb where a between -9223372036854775807 and 0;
select * from tb where a between -22 and 7;
select * from tb where a between 22 and 33;
select * from tb where a between -555 and -56;
select * from tb where a not in (3333);
select * from tb where a not in (-3,3333);
select * from tb where a not in (-33333);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

drop table tb;

# test max=min, with not null
create table tb(a bigint) engine=tianmu;
insert into tb values(0), (0), (0);
select * from tb;
select * from tb where a < -55;
select * from tb where a > 0;
select * from tb where a > -1;
select * from tb where a between -3 and -1;
select * from tb where a between 1 and 3;
select * from tb where a between 0 and 0;
select * from tb where a between -1 and 3;
select * from tb where a between -1 and 0;
select * from tb where a between 0 and 3;
select * from tb where a not in (3);
select * from tb where a not in (-3,3);
select * from tb where a not in (-125);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

# test with null
insert into tb values(null), (null);
select * from tb;
select * from tb where a < -55;
select * from tb where a > 0;
select * from tb where a > -1;
select * from tb where a between -3 and -1;
select * from tb where a between 1 and 3;
select * from tb where a between 0 and 0;
select * from tb where a between -1 and 3;
select * from tb where a between -1 and 0;
select * from tb where a between 0 and 3;
select * from tb where a not in (3);
select * from tb where a not in (-3,3);
select * from tb where a not in (-125);
select * from tb where a in (-3);
select * from tb where a in (-3, 3);
select * from tb where a is null; # emtpy
select * from tb where a is not null; # emtpy
select * from tb where a in (not null); # emtpy
select * from tb where a not in (null); # emtpy

drop table tb;

DROP DATABASE issue1332;
"""

SCRIPT_ISSUE1065F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1065_test;
--enable_warnings

CREATE DATABASE issue1065_test;

USE issue1065_test;

--disable_warnings
set tianmu_mandatory=OFF;
set tianmu_no_key_error=OFF;
--enable_warnings
--disable_warnings
drop table if exists t_test; 
--enable_warnings

CREATE TABLE t_test(
  id INT NOT NULL AUTO_INCREMENT,
  first_name VARCHAR(10) NOT NULL,
  last_name VARCHAR(10) NOT NULL,
  sex VARCHAR(5) NOT NULL,
  score INT NOT NULL,
  copy_id INT NOT NULL,
  PRIMARY KEY (`id`)
) engine=tianmu;

DELIMITER //;
    create PROCEDURE add_user(in num INT)
    BEGIN
        DECLARE rowid INT DEFAULT 0;
        DECLARE firstname CHAR(1);
        DECLARE name1 CHAR(1);
        DECLARE name2 CHAR(1);
        DECLARE lastname VARCHAR(3) DEFAULT '';
        DECLARE sex CHAR(1);
        DECLARE score CHAR(2);
        WHILE rowid < num DO
        SET firstname = SUBSTRING('赵钱孙李周吴郑王林杨柳刘孙陈江阮侯邹高彭徐',FLOOR(1+21*RAND()),1); 
        SET name1 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET name2 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET sex=FLOOR(0 + (RAND() * 2));
        SET score= FLOOR(40 + (RAND() *60));
        SET rowid = rowid + 1;
        IF ROUND(RAND())=0 THEN 
        SET lastname =name1;
        END IF;
        IF ROUND(RAND())=1 THEN
        SET lastname = CONCAT(name1,name2);
        END IF;
        insert INTO t_test(first_name,last_name,sex,score,copy_id) VALUES (firstname,lastname,sex,score,rowid);  
        END WHILE;
    END //
DELIMITER ;//

drop  PROCEDURE add_user;

--disable_warnings
set tianmu_mandatory=ON;
set tianmu_no_key_error=ON;
--enable_warnings

DELIMITER //;
    create PROCEDURE add_user(in num INT)
    BEGIN
        DECLARE rowid INT DEFAULT 0;
        DECLARE firstname CHAR(1);
        DECLARE name1 CHAR(1);
        DECLARE name2 CHAR(1);
        DECLARE lastname VARCHAR(3) DEFAULT '';
        DECLARE sex CHAR(1);
        DECLARE score CHAR(2);
        WHILE rowid < num DO
        SET firstname = SUBSTRING('赵钱孙李周吴郑王林杨柳刘孙陈江阮侯邹高彭徐',FLOOR(1+21*RAND()),1); 
        SET name1 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET name2 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET sex=FLOOR(0 + (RAND() * 2));
        SET score= FLOOR(40 + (RAND() *60));
        SET rowid = rowid + 1;
        IF ROUND(RAND())=0 THEN 
        SET lastname =name1;
        END IF;
        IF ROUND(RAND())=1 THEN
        SET lastname = CONCAT(name1,name2);
        END IF;
        insert INTO t_test(first_name,last_name,sex,score,copy_id) VALUES (firstname,lastname,sex,score,rowid);  
        END WHILE;
    END //
DELIMITER ;//

drop  PROCEDURE add_user;

--disable_warnings
set tianmu_mandatory=OFF;
set tianmu_no_key_error=OFF;
--enable_warnings

DELIMITER //;
    create PROCEDURE add_user(in num INT)
    BEGIN
        DECLARE rowid INT DEFAULT 0;
        DECLARE firstname CHAR(1);
        DECLARE name1 CHAR(1);
        DECLARE name2 CHAR(1);
        DECLARE lastname VARCHAR(3) DEFAULT '';
        DECLARE sex CHAR(1);
        DECLARE score CHAR(2);
        WHILE rowid < num DO
        SET firstname = SUBSTRING('赵钱孙李周吴郑王林杨柳刘孙陈江阮侯邹高彭徐',FLOOR(1+21*RAND()),1); 
        SET name1 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET name2 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET sex=FLOOR(0 + (RAND() * 2));
        SET score= FLOOR(40 + (RAND() *60));
        SET rowid = rowid + 1;
        IF ROUND(RAND())=0 THEN 
        SET lastname =name1;
        END IF;
        IF ROUND(RAND())=1 THEN
        SET lastname = CONCAT(name1,name2);
        END IF;
        insert INTO t_test(first_name,last_name,sex,score,copy_id) VALUES (firstname,lastname,sex,score,rowid);  
        END WHILE;
    END //
DELIMITER ;//

drop  PROCEDURE add_user;

drop table t_test;

CREATE TABLE t_test(
  id INT NOT NULL AUTO_INCREMENT,
  first_name VARCHAR(10) NOT NULL,
  last_name VARCHAR(10) NOT NULL,
  sex VARCHAR(5) NOT NULL,
  score INT NOT NULL,
  copy_id INT NOT NULL,
  PRIMARY KEY (`id`)
) engine=innodb;

--disable_warnings
set tianmu_mandatory=ON;
set tianmu_no_key_error=ON;
--enable_warnings

DELIMITER //;
    create PROCEDURE add_user(in num INT)
    BEGIN
        DECLARE rowid INT DEFAULT 0;
        DECLARE firstname CHAR(1);
        DECLARE name1 CHAR(1);
        DECLARE name2 CHAR(1);
        DECLARE lastname VARCHAR(3) DEFAULT '';
        DECLARE sex CHAR(1);
        DECLARE score CHAR(2);
        WHILE rowid < num DO
        SET firstname = SUBSTRING('赵钱孙李周吴郑王林杨柳刘孙陈江阮侯邹高彭徐',FLOOR(1+21*RAND()),1); 
        SET name1 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET name2 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET sex=FLOOR(0 + (RAND() * 2));
        SET score= FLOOR(40 + (RAND() *60));
        SET rowid = rowid + 1;
        IF ROUND(RAND())=0 THEN 
        SET lastname =name1;
        END IF;
        IF ROUND(RAND())=1 THEN
        SET lastname = CONCAT(name1,name2);
        END IF;
        insert INTO t_test(first_name,last_name,sex,score,copy_id) VALUES (firstname,lastname,sex,score,rowid);  
        END WHILE;
    END //
DELIMITER ;//

drop  PROCEDURE add_user;

--disable_warnings
set tianmu_mandatory=OFF;
set tianmu_no_key_error=OFF;
--enable_warnings

DELIMITER //;
    create PROCEDURE add_user(in num INT)
    BEGIN
        DECLARE rowid INT DEFAULT 0;
        DECLARE firstname CHAR(1);
        DECLARE name1 CHAR(1);
        DECLARE name2 CHAR(1);
        DECLARE lastname VARCHAR(3) DEFAULT '';
        DECLARE sex CHAR(1);
        DECLARE score CHAR(2);
        WHILE rowid < num DO
        SET firstname = SUBSTRING('赵钱孙李周吴郑王林杨柳刘孙陈江阮侯邹高彭徐',FLOOR(1+21*RAND()),1); 
        SET name1 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET name2 = SUBSTRING('一二三四五六七八九十甲乙丙丁静景京晶名明铭敏闵民军君俊骏天田甜兲恬益依成城诚立莉力黎励',ROUND(1+43*RAND()),1); 
        SET sex=FLOOR(0 + (RAND() * 2));
        SET score= FLOOR(40 + (RAND() *60));
        SET rowid = rowid + 1;
        IF ROUND(RAND())=0 THEN 
        SET lastname =name1;
        END IF;
        IF ROUND(RAND())=1 THEN
        SET lastname = CONCAT(name1,name2);
        END IF;
        insert INTO t_test(first_name,last_name,sex,score,copy_id) VALUES (firstname,lastname,sex,score,rowid);  
        END WHILE;
    END //
DELIMITER ;//

drop  PROCEDURE add_user;

# PROBE (not in the reference file): the file has no SELECT; prove
# the procedure create/drop cycles executed
SELECT COUNT(*) AS probe FROM t_test;
drop table t_test;

DROP DATABASE issue1065_test;
"""

SCRIPT_PROCEDUREF = """--source include/have_tianmu.inc

--echo #
--echo # Test PROCEDURE
--echo #

--disable_warnings
DROP DATABASE IF EXISTS procedure_test;
--enable_warnings

CREATE DATABASE procedure_test;
USE procedure_test;

# test variable settings

--disable_warnings
drop procedure if exists math;
--enable_warnings

delimiter //;
create procedure math
(
    in a int,
    in b int
)
begin
    set @var1 = 1;
    set @var2 = 2;
    select @sum:=(a + b) as sum, @dif:=(a - b) as dif;
end//
delimiter ;//
call math(3, 4);
select @var1;
select @var2;
drop procedure math;

delimiter //;
create procedure proc02()
begin
	declare var_name01 varchar(20) default 'aaa';  -- 声明/定义变量
	set var_name01 = 'zhangsan'; -- 给变量赋值
	select var_name01; -- 输出变量的值
end //
delimiter ;//
call proc02();
drop procedure proc02;

# flow control statements while

CREATE TABLE `one_data`  (
  `id` int(11) PRIMARY key AUTO_INCREMENT,
  `name` varchar(255),
  `sort_number` int(11),
  `create_time` datetime(0)
);
 
--disable_warnings
DROP PROCEDURE IF EXISTS doinsert;
--enable_warnings

delimiter //;
create procedure doinsert()
begin
 declare i int;  
 set i = 0; 
while(i<=10) do
  INSERT INTO `one_data`( `name`, `sort_number`, `create_time`) VALUES (CONCAT('stonedb',i), i, NOW());
  set i = i+1; 
end while;  
end;//
delimiter ;//
call doinsert();
DROP PROCEDURE doinsert;
DROP TABLE `one_data`;

--disable_warnings
DROP PROCEDURE IF EXISTS test_mysql_while;
--enable_warnings

DELIMITER //;
CREATE PROCEDURE test_mysql_while ( ) 
	BEGIN
	DECLARE x INT;
	DECLARE str VARCHAR ( 255 );
	SET x = 1;
	SET str = '';
	WHILE x <= 5 DO
		SET str = CONCAT( str, x, ',' );
		SET x = x + 1;
	END WHILE;
	SELECT str;
END//
DELIMITER ;//
call test_mysql_while;
DROP PROCEDURE test_mysql_while;

# flow control statements repeat

--disable_warnings
DROP PROCEDURE IF EXISTS mysql_test_repeat;
--enable_warnings

DELIMITER //;
CREATE PROCEDURE mysql_test_repeat ( ) 
BEGIN
	DECLARE x INT;
	DECLARE str VARCHAR ( 255 );
	SET x = 1;
	SET str = '';
	REPEAT
		SET str = CONCAT( str, x, ',' );
		SET x = x + 1;
	UNTIL x > 5 
	END REPEAT;
	SELECT str;
END //
DELIMITER ;//
call mysql_test_repeat;
DROP PROCEDURE mysql_test_repeat;

# flow control statements loop and if

--disable_warnings
DROP PROCEDURE IF EXISTS test_mysql_loop;
--enable_warnings

DELIMITER //;
CREATE PROCEDURE test_mysql_loop() 
BEGIN
  DECLARE x INT;
  DECLARE str VARCHAR ( 255 );
  SET x = 1;
  SET str = '';
  loop_label :LOOP
    IF x > 10 THEN
      LEAVE loop_label;
    END IF;
    SET x = x + 1;
    IF ( x MOD 2 ) THEN
      ITERATE loop_label;
    ELSE 
      SET str = CONCAT( str, x, ',' );
    END IF;
  END LOOP;
  SELECT str;
END //
DELIMITER ;//
call test_mysql_loop;
DROP PROCEDURE test_mysql_loop;

--disable_warnings
DROP PROCEDURE IF EXISTS myadd;
--enable_warnings

delimiter //;
create procedure myadd(in a int,in b int)
begin
    declare c int default 0;
    set c = a + b;
    select c as c;
end
//
delimiter ;//
call myadd(3, 4);
DROP PROCEDURE myadd;

# flow control statements case

--disable_warnings
DROP PROCEDURE if exists `pro_test`;
--enable_warnings

DELIMITER //;
CREATE PROCEDURE pro_test(a int)
  BEGIN
    DECLARE v INT DEFAULT 1;
    set v = a;
    CASE v
      WHEN 2 THEN SELECT v;
      WHEN 3 THEN SELECT 0;
      ELSE
        BEGIN
        END;
    END CASE;
  END;
//
DELIMITER ;//
call pro_test(3);
call pro_test(5);
call pro_test(2);
DROP PROCEDURE `pro_test`;

# flow control statements loop

--disable_warnings
DROP PROCEDURE if exists `s_loop`;
--enable_warnings

delimiter //;
create procedure s_loop()
begin
    # 声明计数器
    declare i int default 1;
    # 开始循环
    num:
    loop
        # 查询计数器记录的值
        select i;
        # 判断大于等于停止计数
        if i >= 3 then
            leave num;
        end if;
        # 计数器自增1
        set i = i + 1;
    # 结束循环
    end loop num;
end //
delimiter ;//
call s_loop();
DROP PROCEDURE `s_loop`;

--disable_warnings
DROP PROCEDURE if exists `doiterate`;
--enable_warnings

delimiter //;
CREATE PROCEDURE doiterate(p1 INT)
BEGIN
  label1: LOOP
    SET p1 = p1 + 1;
    IF p1 < 10 THEN
      ITERATE label1;
    END IF;
    LEAVE label1;
  END LOOP label1;
  SET @x = p1;
  select @x;
END//
delimiter ;//
call doiterate(3);
call doiterate(11);
alter PROCEDURE doiterate COMMENT 'test';
DROP PROCEDURE `doiterate`;

--disable_warnings
drop procedure if exists my_add;
--enable_warnings

delimiter //;
create procedure my_add(in a int)
begin
    select a;
end
//
delimiter ;//
call my_add(3);
drop procedure my_add;

# clean up
DROP DATABASE procedure_test;
"""

SCRIPT_ISSUE1903F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1903_test_db;
--enable_warnings
CREATE DATABASE issue1903_test_db;
USE issue1903_test_db;

CREATE TABLE `c1am_acct_day` (
  `ACCOUNT_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '账户ID',
  `FISCAL_DATE` date DEFAULT NULL COMMENT '记账日期',
  `BALANCE` decimal(16,2) NOT NULL DEFAULT '0.00' COMMENT '余额',
  `DELETED_FLAG` char(1) NOT NULL DEFAULT '0' COMMENT '记录删除标志 [0]-未删除;[1]-逻辑删除'
) ENGINE=TIANMU;

CREATE TABLE `c1md_bank_acct` (
  `ROW_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT 'ROW_ID',
  `CURRENCY_ID` decimal(18,0) NOT NULL DEFAULT '-1' COMMENT '币种ID',
  `DELETED_FLAG` char(1) NOT NULL DEFAULT '0' COMMENT '记录删除标志 [0]-未删除;[1]-逻辑删除'
) ENGINE=TIANMU;

INSERT INTO `c1am_acct_day` 
  VALUES 
    (3000000000028804, '2023-04-16', 7628617.08, '0'),
    (3000000000028804, '2023-04-17', 7626656.73, '0'),
    (3000000000028804, '2023-04-18', 7626471.23, '0'),
    (3000000000028806, '2023-04-15', 605253889.19, '0'),
    (3000000000028806, '2023-04-16', 611274357.27, '0'),
    (3000000000028806, '2023-04-17', 605257716.01, '0'),
    (3000000000028808, '2023-04-18', 79322521.29, '0'),
    (3000000000028808, '2023-04-19', 79322521.29, '0'),
    (3000000000028808, '2023-04-20', 79322521.29, '0'),
    (3000000000028809, '2023-04-18', 79322521.29, '0'),
    (3000000000028809, '2023-04-19', 79322521.29, '0'),
    (3000000000028809, '2023-04-20', 79322521.29, '0');

INSERT INTO `c1md_bank_acct`
  VALUES
    (3000000000028804, 1, '0'),
    (3000000000028806, 3, '0'),
    (3000000000028808, 15, '0'),
    (3000000000028809, 6, '0');

SELECT 
 	result.* 
 FROM (
     SELECT 
     	a.*, 
     	@rownum1 := @rownum1 + 1 inde,
     	IF(@pxydm1 = a.account_id,@rankno1 := @rankno1 + 1,@rankno1 := 1) AS rankno,
     	@pxydm1 := a.account_id 
     FROM (
         SELECT 
         	b.CURRENCY_ID,
         	a.account_id,
         	a.fiscal_date,
         	a.balance
         FROM 
         	c1am_acct_day a, c1md_bank_acct b
         WHERE a.deleted_flag = '0'
         		AND b.deleted_flag = '0'
         		AND a.account_id = b.ROW_ID
         ORDER BY a.account_id, a.fiscal_date) a) result
WHERE result.rankno = 1;

SELECT 
 	result.* 
 FROM (
     SELECT 
     	a.*, 
     	@rownum1 := @rownum1 + 1 inde,
     	IF(@pxydm1 = a.account_id,@rankno1 := @rankno1 + 1,@rankno1 := 1) AS rankno,
     	@pxydm1 := a.account_id 
     FROM (
         SELECT 
         	b.CURRENCY_ID,
         	a.account_id,
         	a.fiscal_date,
         	a.balance
         FROM 
         	c1am_acct_day a, c1md_bank_acct b
         WHERE a.deleted_flag = '0'
         		AND b.deleted_flag = '0'
         		AND a.account_id = b.ROW_ID
         ORDER BY a.account_id, a.fiscal_date) a) result
WHERE result.rankno = 1;

DROP DATABASE issue1903_test_db;
"""


SCRIPT_ISSUE1897F = """--source include/have_tianmu.inc
--disable_warnings

DROP DATABASE IF EXISTS issue1897;
CREATE DATABASE issue1897;
USE issue1897;
--enable_warnings

CREATE TABLE t1 (id INT, name VARCHAR(5));

INSERT INTO t1 VALUES (1,'AAA'),(2,'BBB');
INSERT INTO t1 VALUES (1,'AAA'),(2,'BBB');

SELECT @row := @row + 1 FROM t1,(SELECT @row := 0) a;

SELECT @rownum1 := @rownum1 + 1 inde FROM (SELECT a.* FROM t1 a) a,(SELECT @rownum1 := 0, @pxydm1 := NULL,
@rankno1 := 0) b;

SELECT
  id,
  name,
  @my_var := IF(name = @prev_value, @my_var, @my_var + 1) AS group_id,
  @prev_value := name
FROM
  t1,
  (SELECT @my_var := 0, @prev_value := NULL) AS init
ORDER BY
  name,
  id;

SELECT B.name, A.id, 1 sort_no 
FROM t1 A 
INNER JOIN t1 B 
ON A.id = B.id 
INNER JOIN (SELECT * FROM (SELECT @row := @row + 1 AS rowno FROM (SELECT 0) C) D) E ON 1 = 1; 

DROP TABLE t1;

DROP DATABASE issue1897;"""


SCRIPT_ISSUE1707F = """--source include/have_tianmu.inc

--disable_warnings

CREATE DATABASE IF NOT EXISTS test_db_1707;

USE test_db_1707;

CREATE TABLE tianmu_table (
  id INT NOT NULL,
  name VARCHAR(50) NOT NULL,
  age INT NOT NULL,
  gender VARCHAR(10) NOT NULL,
  salary INT NOT NULL,
  address VARCHAR(100) NOT NULL
) ENGINE=tianmu;

INSERT INTO tianmu_table 
  (id, name, age, gender, salary, address) 
VALUES 
  (1, 'John', 25, 'Male', 50000, '123 Main St'),
  (2, 'Jane', 30, 'Female', 60000, '456 Elm St'),
  (3, 'Bob', 35, 'Male', 70000, '789 Maple St');


select @age_cutoff := age
from (
SELECT name, age, gender, salary
FROM (
  SELECT name, age, gender, salary
  FROM tianmu_table
  WHERE age < 30
  UNION ALL
  SELECT name, age, gender, salary
  FROM tianmu_table
  WHERE age >= 30
) AS derived_table
WHERE salary > 30 ) H;


drop database test_db_1707;
"""


SCRIPT_ISSUE1637F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1637_test;
--enable_warnings

CREATE DATABASE issue1637_test;

USE issue1637_test;

create table ttt(id int primary key,name varchar(10));
insert into ttt values(1,'aaa');
insert into ttt values(2,'bbb');
--disable_warnings
insert ignore into ttt values(2,'ccc');
--enable_warnings

sleep 2;

select * from ttt;

DROP DATABASE issue1637_test;
"""


SCRIPT_ISSUE1006F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1006_test;
--enable_warnings

CREATE DATABASE issue1006_test;

USE issue1006_test;

CREATE TABLE `orders` (
`o_orderkey` int(11) NOT NULL,
`o_custkey` int(11) NOT NULL,
`o_orderstatus` char(1) NOT NULL,
`o_totalprice` decimal(15,2) NOT NULL,
`o_orderdate` date NOT NULL,
`o_orderpriority` char(15) NOT NULL,
`o_clerk` char(15) NOT NULL,
`o_shippriority` int(11) NOT NULL,
`o_comment` varchar(79) NOT NULL,
PRIMARY KEY (`o_orderkey`)
) ENGINE=tianmu DEFAULT CHARSET=utf8mb4;

--replace_result $MYSQL_TEST_DIR MYSQL_TEST_DIR
eval load data local infile '$MYSQL_TEST_DIR/suite/tianmu/std_data/issue1006.txt' into table orders FIELDS TERMINATED BY ' ' ENCLOSED BY '"' LINES TERMINATED BY '\n';

--replace_result $MYSQLTEST_VARDIR MYSQLTEST_VARDIR
eval select * from orders limit 10 into outfile '$MYSQLTEST_VARDIR/tmp/issue1006_out.txt' FIELDS TERMINATED BY ' ' ENCLOSED BY '"'  LINES TERMINATED BY '\n';

--diff_files $MYSQL_TEST_DIR/suite/tianmu/std_data/issue1006.txt $MYSQLTEST_VARDIR/tmp/issue1006_out.txt
--remove_file $MYSQLTEST_VARDIR/tmp/issue1006_out.txt

# PROBE (not in the reference file): the --diff_files check above
# is the verification (byte-exact per line, sorted); prove the load ran
SELECT COUNT(*) AS probe FROM orders;

drop table orders;

DROP DATABASE issue1006_test;
"""


SCRIPT_ISSUE1616F = """--source include/have_tianmu.inc
--disable_warnings
DROP DATABASE IF EXISTS issue1616_test;
CREATE DATABASE issue1616_test;
USE issue1616_test;
--enable_warnings

CREATE TABLE T1  (id int(11) NOT NULL auto_increment,  parent_id int(11) DEFAULT '0' NOT NULL,  level tinyint(4)
                  DEFAULT '0' NOT NULL, PRIMARY KEY (id)) engine=tianmu;

INSERT INTO T1 VALUES (3,1,1),(4,1,1);
--ERROR 1062
INSERT INTO T1 VALUES (3,1,1),(4,1,1);

SELECT * FROM T1;

UPDATE IGNORE T1 SET id=id+1;

SELECT * FROM T1;

--ERROR 1062
UPDATE T1 SET id =10;

SELECT * FROM T1;

--ERROR 1062
UPDATE T1 SET ID=5 WHERE ID=3; 
SELECT * FROM T1;

DROP TABLE T1;


CREATE TABLE T2 (dt datetime, val int, primary key(dt)) ENGINE =tianmu;
INSERT INTO T2 VALUES ('2017-11-05 20:29:36',1), ('2027-11-05 20:29:36', 2);
--ERROR 1062
UPDATE T2 SET dt ='2027-11-05 20:29:36' WHERE val =1;

SELECT * FROM T2;
DROP TABLE T2;

#multi-keys
CREATE TABLE T3  (id int(11) NOT NULL auto_increment,  parent_id int(11) DEFAULT '0' NOT NULL,  level tinyint(4)
                  DEFAULT '0' NOT NULL, PRIMARY KEY (id, parent_id)) engine=tianmu;

INSERT INTO T3 VALUES (3,1,1),(4,1,1);
--ERROR 1062
INSERT INTO T3 VALUES (3,1,1),(4,1,1);

UPDATE IGNORE T3 SET id=id+1;
SELECT * FROM T3;

DROP TABLE T3;

CREATE TABLE T4  (id int(11) NOT NULL auto_increment,  parent_id int(11) DEFAULT '0' NOT NULL,  level tinyint(4)
                  DEFAULT '0' NOT NULL, PRIMARY KEY (id)) engine=innodb;

INSERT INTO T4 VALUES (3,1,1),(4,1,1);
--ERROR 1062
UPDATE T4 SET id =10;

SELECT * FROM T4;
DROP TABLE T4;

DROP DATABASE issue1616_test;
"""


SCRIPT_ISSUE1034F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue1034_test;
--enable_warnings

CREATE DATABASE issue1034_test;

USE issue1034_test;

--disable_warnings

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id int) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=INPLACE;

DROP TABLE t1;

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id int) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=INPLACE;

DROP TABLE t1;

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id int PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id int, name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id int) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=INPLACE;

DROP TABLE t1;

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id), ALGORITHM=INPLACE;

DROP TABLE t1;

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE USING BTREE, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id) USING BTREE, ALGORITHM=INPLACE;

DROP TABLE t1;

## test with enable the tianmu PRIMARY KEY index

set global tianmu_index_search=on;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=DEFAULT;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

## clean test TABLE

DROP TABLE t1;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## test with disable the tianmu PRIMARY KEY index

set global tianmu_index_search=off;

## DDL no PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

## ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## DDL has PRIMARY KEY

DROP TABLE IF EXISTS t1;

CREATE TABLE t1 (id VARCHAR(255) PRIMARY KEY) ENGINE=TIANMU;

## DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## re ADD pk

ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH USING HASH, ALGORITHM=COPY;

## re DROP pk

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

## clean test TABLE

DROP TABLE t1;

## multi primary key

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=DEFAULT;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=DEFAULT;

DROP TABLE t1;

CREATE TABLE t1 (id VARCHAR(255), name VARCHAR(255), age int) ENGINE=TIANMU;

ALTER TABLE t1 ADD PRIMARY KEY(id,name), ALGORITHM=COPY;

ALTER TABLE t1 DROP PRIMARY KEY, ALGORITHM=COPY;

DROP TABLE t1;

## ERROR for ALGORITHM=INPLACE

CREATE TABLE t1 (id VARCHAR(255)) ENGINE=TIANMU;

--error 1845
ALTER TABLE t1 ADD PRIMARY KEY(id) USING HASH, ALGORITHM=INPLACE;

# PROBE (not in the reference file): the 198 ADD/DROP PRIMARY KEY
# + ALGORITHM legs above (incl. the three 1845 INPLACE errors) are
# the verification; prove the final table survived
SELECT COUNT(*) AS probe FROM t1;

DROP TABLE t1;

DROP DATABASE issue1034_test;
"""


SCRIPT_ISSUE1696F = """--source include/have_tianmu.inc

--disable_warnings

--echo # Creating test database test_db_1696
CREATE DATABASE IF NOT EXISTS test_db_1696;

USE test_db_1696;

CREATE DATABASE IF NOT EXISTS test_database;
USE test_database;

CREATE TABLE IF NOT EXISTS t1 (
  id INT NOT NULL,
  value INT NOT NULL
) ENGINE=tianmu;

INSERT INTO t1 VALUES (1, 1), (2, 2), (3, 3), (4, 1), (5, 2), (6, 3);

CREATE TABLE IF NOT EXISTS t2 (
  id INT NOT NULL,
  value INT NOT NULL
) ENGINE=tianmu;

INSERT INTO t2 VALUES (1, 1), (2, 2), (3, 3), (4, 1), (5, 2), (6, 3);

CREATE TABLE IF NOT EXISTS t3 (
  id INT NOT NULL,
  value INT NOT NULL
) ENGINE=tianmu;

INSERT INTO t3 VALUES (1, 1), (2, 2), (3, 3), (4, 1), (5, 2), (6, 3);

SET @counter = 0;

SELECT
  *,
  IF(@counter != 1, @counter, @counter := @counter + 1) AS counter
FROM
  (
    SELECT
      t1.id AS id1,
      t1.value AS value1,
      t2.id AS id2,
      t2.value AS value2,
      t3.id AS id3,
      t3.value AS value3
    FROM
      t1
      JOIN t2 ON t1.value = t2.value
      JOIN t3 ON t2.value = t3.value
  ) AS derived_table;
DROP TABLE t1, t2, t3;

set @rankno = 1;

create table d(taxis_no int);
 
insert into d values(1);
insert into d values(1);
insert into d values(1);

SELECT IF(@rankno != d.taxis_no, @rankno := 1, @rankno := @rankno + 1)  from d;

set @rankno = 1;

drop table d;
create table d(taxis_no int);
 
insert into d values(1);
insert into d values(2);
insert into d values(3);

SELECT IF(@rankno != d.taxis_no, @rankno := 1, @rankno := @rankno + 1)  from d;

--echo # Dropping test database test_db_1696
DROP DATABASE IF EXISTS test_db_1696;"""


SCRIPT_ISSUE1910F = """--source include/have_tianmu.inc
--disable_warnings

DROP DATABASE IF EXISTS issue1910;
CREATE DATABASE issue1910;
USE issue1910;
--enable_warnings

CREATE TABLE t1 (`id` BIGINT(20) NOT NULL, 
                 `created_date` DATETIME DEFAULT NULL,
                 `name` VARCHAR(20),
                 `price` DECIMAL(10,2));
INSERT INTO t1 VALUES 
(1,'2023-06-30 10:00:00','aaa',186.43),
(2,'2023-11-21 14:26:54','bbb',12.2),
(3,'2023-01-25 17:10:20','ccc',1743.19),
(4,'2012-03-18 23:56:41','ddd',1.3);

CREATE TABLE t2 (`id` INT(20) NOT NULL, 
                 `name` VARCHAR(20),
                 `price` DECIMAL(10,2));
INSERT INTO t2 VALUES 
(1,'aaa',186.43),
(2,'bbb',12.2),
(3,'aaa',1743.19),
(4,'ddd',12.2),
(3,'ccc',1743.19);

SELECT C.* FROM t1 A INNER JOIN (SELECT @row1 := @row1 + 1 AS '上划日' FROM (SELECT 0) a) C ON 1 = 1;
SELECT C.* FROM t1 A LEFT JOIN (SELECT @row1 := @row1 + 1 AS '上划日' FROM (SELECT 0) a) C ON 1 = 1;
SELECT C.* FROM t1 A RIGHT JOIN (SELECT @row1 := @row1 + 1 AS '上划日' FROM (SELECT 0) a) C ON 1 = 1;
SELECT C.* FROM t1 A CROSS JOIN (SELECT @row1 := @row1 + 1 AS '上划日' FROM (SELECT 0) a) C ON 1 = 1;

SELECT @row1 := @row1 + 1 AS '上划日' FROM (SELECT 1.99) a INNER JOIN t1;
SELECT * FROM t1 INNER JOIN (SELECT @row1 := @row1 + 1 AS '上划日') a;
SELECT * FROM (SELECT 456.234) a LEFT JOIN t1 ON created_date;
SELECT * FROM (SELECT 'abc') a RIGHT JOIN t2 ON a.abc = t2.name;
SELECT * FROM (SELECT 'abc',123) a CROSS JOIN (SELECT created_date AS number FROM t1,t2 WHERE t1.id = t2.id) b;

SELECT * FROM t1 LEFT JOIN (SELECT * FROM (SELECT * FROM (SELECT 'abc' AS '上划日') e RIGHT JOIN t2 ON t2.price) f 
CROSS JOIN (SELECT * FROM (SELECT 1) a INNER JOIN (SELECT t1.name AS nm FROM t1,t2 WHERE t1.id = t2.id AND 
t2.price = (SELECT 12.2)) b ON b.nm) c) d ON d.name = t1.name LIMIT 10;

SELECT * FROM (SELECT * FROM ((SELECT @row1 := @row1 + 1 AS '上划日') a LEFT JOIN (SELECT 1) b ON b.1) CROSS JOIN t2)
c RIGHT JOIN t2 ON t2.id;

SELECT * FROM (SELECT t1.name FROM t1 RIGHT JOIN t2 ON t1.id = t2.id) a INNER JOIN (SELECT * FROM (SELECT * FROM t2
WHERE name = 'aaa') b WHERE id = 3) c ON a.name = 'aaa';

DROP TABLE t1;
DROP TABLE t2;

DROP DATABASE issue1910;"""


SCRIPT_ISSUE781F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue781_test;
--enable_warnings

CREATE DATABASE issue781_test;

USE issue781_test;

--disable_warnings

# safe mode

# test with no primary key

## DDL

DROP TABLE IF EXISTS cs1;
DROP TABLE IF EXISTS cs2;

CREATE TABLE cs1 (d1 int, d2 int) ENGINE=TIANMU;
CREATE TABLE cs2 (d1 int, d2 int) ENGINE=TIANMU;

## insert data

INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## select before update

SELECT * FROM cs1;

## update with IN of more than one elem

UPDATE cs1 SET d1=888, d2=777 WHERE d1 IN (125, 99999);

## select again

SELECT * FROM cs1;

## update with NOT IN of more than one elem

UPDATE cs1 SET d1=888, d2=777 WHERE d1 NOT IN (125, 99999);

## select again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

## update with IN of one elem

UPDATE cs1 SET d1=888, d2=777 WHERE d1 IN (99998);

## select again

SELECT * FROM cs1;

## update with NOT IN of one elem

UPDATE cs1 SET d1=888, d2=777 WHERE d1 NOT IN (99998);

## select again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

## update with eq

UPDATE cs1 SET d1=999, d2=777 WHERE d1 = 99998;

## select again

SELECT * FROM cs1;

## update with not eq

UPDATE cs1 SET d1=999, d2=777 WHERE d1 != 99998;

## select again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## EXISTS clause with IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE EXISTS (SELECT 1 from cs2 WHERE d1 IN (33, 77) ) LIMIT 1;   

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## NOT EXISTS clause with IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE NOT EXISTS (SELECT 1 from cs2 WHERE d1 IN (330, 770) ) LIMIT 1;   

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## EXISTS clause with NOT IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE EXISTS (SELECT 1 from cs2 WHERE d1 NOT IN (33, 77) ) LIMIT 1;   

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## EXISTS clause with IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE EXISTS (SELECT 1 from cs2 WHERE d1 IN (33) ) LIMIT 1;  

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## NOT EXISTS clause with IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE NOT EXISTS (SELECT 1 from cs2 WHERE d1 IN (330) ) LIMIT 1;  

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

DELETE FROM cs2;
INSERT INTO cs2 VALUES (125, 125);
INSERT INTO cs2 VALUES (-125, -125);
INSERT INTO cs2 VALUES (77, 55);
INSERT INTO cs2 VALUES (33, 66);
INSERT INTO cs2 VALUES (99998, 998);
INSERT INTO cs2 VALUES (99999, 999);

## EXISTS clause with NOT IN more than one elem

UPDATE cs1 SET d1=999, d2=777 WHERE EXISTS (SELECT 1 from cs2 WHERE d1 NOT IN (33) ) LIMIT 1;  

## SELECT again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

## delete with IN of more than one elem

DELETE FROM cs1 WHERE d1 IN (77, 999);

## select again

SELECT * FROM cs1;

DELETE FROM cs1 WHERE d1 NOT IN (77, 999);

## select again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

## delete with IN one elem

DELETE FROM cs1 WHERE d1 IN (-125);

## select again

SELECT * FROM cs1;

## delete with NOT IN one elem

DELETE FROM cs1 WHERE d1 NOT IN (-125);

## select again

SELECT * FROM cs1;

## reinsert

DELETE FROM cs1;
INSERT INTO cs1 VALUES (125, 125);
INSERT INTO cs1 VALUES (-125, -125);
INSERT INTO cs1 VALUES (77, 55);
INSERT INTO cs1 VALUES (33, 66);
INSERT INTO cs1 VALUES (99998, 998);
INSERT INTO cs1 VALUES (99999, 999);

## delete with eq

DELETE FROM cs1 WHERE d1 = 33;

## select again

SELECT * FROM cs1;

## delete with NOT eq

DELETE FROM cs1 WHERE d1 != 33;

## select again

SELECT * FROM cs1;

## clean test table

DROP TABLE cs1;
DROP TABLE cs2;


DROP DATABASE issue781_test;
"""


SCRIPT_ISSUE682F = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue682_test;
--enable_warnings

CREATE DATABASE issue682_test;

USE issue682_test;

set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
create table t1(a date not null);
insert ignore into t1 values (0);
insert into t1 values (0);
insert ignore into t1 values (null);
-- error 1048
insert into t1 values (null);
insert into t1 values (20221020);
select * from t1;
select * from t1 where a is null;
delete from t1 where a is null;
delete from t1 where a=0;
select * from t1 where a is null;
select * from t1;
delete from t1 where a ='20221020';
select * from t1;
drop table t1;

create table t1(a datetime not null);
insert ignore into t1 values (0);
insert into t1 values (0);
insert ignore into t1 values (null);
-- error 1048
insert into t1 values (null);
insert into t1 values (20221020);
select * from t1;
select * from t1 where a is null;
delete from t1 where a is null;
delete from t1 where a=0;
select * from t1 where a is null;
select * from t1;
delete from t1 where a ='20221020';
select * from t1;
drop table t1;

DROP DATABASE issue682_test;
"""

SCRIPT_ISSUE682_NULLABLE = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue682_test;
--enable_warnings

CREATE DATABASE issue682_test;

USE issue682_test;

set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
create table t1(a date);
insert ignore into t1 values (0);
insert into t1 values (0);
insert ignore into t1 values (null);
insert into t1 values (null);
insert into t1 values (20221020);
select * from t1;
select * from t1 where a is null;
delete from t1 where a is null;
select * from t1 where a is null;
select * from t1;
delete from t1 where a ='20221020';
select * from t1;
drop table t1;
"""

SCRIPT_ISSUE682_TIME = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue682_test;
--enable_warnings

CREATE DATABASE issue682_test;

USE issue682_test;

set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
create table t1(a TIME not null);
insert ignore into t1 values (0);
insert into t1 values (0);
insert ignore into t1 values (null);
-- error 1048
insert into t1 values (null);
insert into t1 values ('12:13:14');
select * from t1;
select * from t1 where a is null;
delete from t1 where a is null;
delete from t1 where a=0;
select * from t1 where a is null;
select * from t1;
delete from t1 where a ='12:13:14';
select * from t1;
drop table t1;
"""

SCRIPT_ISSUE682_JOINS = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue682_test;
--enable_warnings

CREATE DATABASE issue682_test;

USE issue682_test;

set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION';
CREATE TABLE t1 (a varchar(10));
CREATE TABLE t2 (a varchar(10), b date  not null);
CREATE TABLE t3 (a varchar(10), b TIME  not null);

INSERT INTO t1 VALUES ('test1');
INSERT  ignore  INTO t2 VALUES
('test1','2016-12-13'),('test1','2016-12-14'),('test1','2016-12-15'),('test1',null);
INSERT ignore INTO t3 VALUES
('test1','11:13:14'), ('test1','12:13:14'), ('test1','10:13:14'),('test1',null);

SELECT *
FROM t1 LEFT JOIN t2
  ON t2.a = 'test1' AND t2.b = '20161213'
WHERE t1.a = 'test1';

SELECT *
FROM t1 LEFT JOIN t2
  ON t2.a = 'test1'
WHERE t1.a = 'test1'
or t2.b is null;

SELECT *
FROM t1 LEFT JOIN t3
  ON t3.a = 'test1'
  AND t3.b = '12:13:14'
WHERE t1.a = 'test1';

SELECT *
FROM t1 LEFT JOIN t3
  ON t3.a = 'test1'
WHERE t1.a = 'test1'
or t3.b is null;

drop table t1,t2,t3;
"""


SCRIPT_ISSUE682_NZD = """--source include/have_tianmu.inc

--disable_warnings
DROP DATABASE IF EXISTS issue682_test;
--enable_warnings

CREATE DATABASE issue682_test;

USE issue682_test;
set sql_mode='STRICT_TRANS_TABLES,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION,NO_ZERO_IN_DATE,NO_ZERO_DATE';
create table t1(a date not null);
insert ignore into t1 values (0);
-- error 1292
insert into t1 values (0);
insert ignore into t1 values (null);
-- error 1048
insert into t1 values (null);
insert into t1 values (20221020);
select * from t1;
select * from t1 where a is null;
-- error 1292
delete from t1 where a is null;
-- error 1292
delete from t1 where a=0;
select * from t1 where a is null;
select * from t1;
delete from t1 where a ='20221020';
select * from t1;
drop table t1;
"""


SCRIPT_ISSUE1108 = """--source include/have_tianmu.inc

show variables like "%delete_or_update_thread%";
"""


_SPECS = [
    ('dialect_char_length', SCRIPT_CHAR_LENGTH, -1, ['a', 'n'], False, 'CHAR_LENGTH / CHARACTER_LENGTH over literals, ints and columns'),
    ('dialect_coalesce_ascii', SCRIPT_COALESCE_ASCII, -2, ['a', 'asc'], False, 'COALESCE chains and ASCII over int/char literals and columns'),
    ('dialect_if_strcmp', SCRIPT_IF_STRCMP, -1, None, False, 'IF() scalar/column forms and STRCMP comparison'),
    ('dialect_in_withpk', SCRIPT_IN_WITHPK, -2, None, False, "IN/NOT IN/NOT EXISTS subqueries over PK'd tables; composite CHAR PKs fed by INSERT..SELECT"),
    ('dialect_derived_table', SCRIPT_DERIVED_TABLE, -1, ['a1', 'a2'], False, 'derived tables in FROM/comma/JOIN positions incl. INSERT..SELECT feeds'),
    ('dialect_hash_join', SCRIPT_HASH_JOIN, -1, ['a', 'b', 'c', 'd'], False, 'comma-join chains over varchar and int keys, INSERT without INTO'),
    ('dialect_orquery', SCRIPT_ORQUERY, -1, ['n'], False, "OR-tree predicate count (the reference's Descriptor OR path)"),
    ('dialect_various_subquery', SCRIPT_VARIOUS_SUBQUERY, -3, None, False, 'nested derived subqueries, constant projections, unions inside FROM'),
    ('dialect_avg_distinct', SCRIPT_AVG_DISTINCT, 2, ['b', 'av'], False, 'AVG(DISTINCT) scalar / HAVING / grouped ORDER BY DESC'),
    ('dialect_case_function', SCRIPT_CASE_FUNCTION, 0, ['v'], False, 'CASE WHEN over CHAR predicate and scalar constant CASE'),
    ('dialect_concat_null', SCRIPT_CONCAT_NULL, -1, ['c'], False, 'CONCAT(int, text) with NULL propagation (MySQL semantics vs DuckDB skip)'),
    ('dialect_inner_join', SCRIPT_INNER_JOIN, -1, ['a1', 'b1', 'f1', 'b2', 'c2', 'a3', 'c3', 'f3'], False, 'circular inner joins with ON trees and WHERE filters, /* */ comments'),
    ('dialect_like_columns', SCRIPT_LIKE_COLUMNS, -1, ['lbl', 'd1', 'd2'], False, 'LIKE / NOT LIKE where the pattern is a COLUMN'),
    ('dialect_multi_join', SCRIPT_MULTI_JOIN, -1, ['c'], False, '12-way self-join chain mixing right/left/inner joins'),
    ('dialect_null_funcs', SCRIPT_NULL_FUNCS, 8, ['b', 'isn'], False, 'IFNULL / ISNULL / NULLIF scalars and per-column forms'),
    ('dialect_semi_join', SCRIPT_SEMI_JOIN, -1, ['t1_int', 'n'], False, 'correlated IN/EXISTS semi-joins with and without PRIMARY KEY'),
    ('dialect_sum_distinct', SCRIPT_SUM_DISTINCT, 2, ['b', 's'], True, 'SUM(DISTINCT) scalar / HAVING / grouped ORDER BY DESC'),
    ('dialect_union_decimal', SCRIPT_UNION_DECIMAL, -1, ['a', 'b', 'c'], False, 'UNION with column shuffles over INT; DECIMAL(17,x) signed/unsigned inserts'),
    ('dialect_aliases', SCRIPT_ALIASES, -1, ['col1', 'text1', 'date2'], False, "string-literal aliases (AS 'x', implicit 'x'), self/cross joins, RIGHT JOIN"),
    ('dialect_between_and', SCRIPT_BETWEEN_AND, 5, ['v'], False, 'BETWEEN over CHAR/INT/DATETIME/DOUBLE incl. scalar forms'),
    ('dialect_case_groupby', SCRIPT_CASE_GROUPBY, -1, None, False, 'GROUP BY on a CASE select-alias; MAX(CASE...) pivot returning NULL'),
    ('dialect_date_arith', SCRIPT_DATE_ARITH, -1, None, False, 'DATE_SUB(x, INTERVAL n unit): day/hour units, invalid and NULL dates'),
    ('dialect_delete_agg', SCRIPT_DELETE_AGG, 2, ['m'], False, '17-type table: typed INSERT, aggregates, repeated full DELETE'),
    ('dialect_div', SCRIPT_DIV, 1, ['t1_int', 'q'], False, 'DIV integer division over INT/DECIMAL incl. DIV 0 -> NULL'),
    ('dialect_expr_vars', SCRIPT_EXPR_VARS, -1, ['v'], False,
     'user variables (SET @a), ||/&& logical ops, arithmetic/POW over @vars'),
    ('dialect_group_concat', SCRIPT_GROUP_CONCAT, 3, ['id', 'gc'], False, 'GROUP_CONCAT with SEPARATOR / ORDER BY / DISTINCT, backtick idents'),
    ('dialect_having', SCRIPT_HAVING, -3, None, True, 'HAVING on select alias; HAVING over JOIN aggregates'),
    ('dialect_in_subquery', SCRIPT_IN_SUBQUERY, 5, None, False, 'IN/NOT IN subqueries: correlated, nested, GROUP BY/HAVING inside'),
    ('dialect_left_join', SCRIPT_LEFT_JOIN, -1, ['a1', 'a2', 'a3'], False, 'LEFT JOIN chains with WHERE pushes and IS NULL anti patterns'),
    ('dialect_limit', SCRIPT_LIMIT, 7, None, False, 'LIMIT x,y / defaults via INSERT VALUES() / expected parse errors'),
    ('dialect_select_basic', SCRIPT_SELECT_BASIC, 2, None, False, 'smallint(4) display widths, DEFAULT literals, t1.* projection'),
    ('dialect_select_distinct', SCRIPT_SELECT_DISTINCT, 3, None, False, 'COUNT(DISTINCT), SELECT DISTINCT, INSERT..SELECT DISTINCT'),
    ('dialect_select_group_by', SCRIPT_SELECT_GROUP_BY, 10, ['s'], True, 'GROUP BY over every column type incl. BLOB keys; --error 1055/1054'),
    ('dialect_union', SCRIPT_UNION, -1, None, False, 'UNION/UNION ALL with column swaps and INT SIGNED'),
    ('dialect_upsert', SCRIPT_UPSERT, -1, None, False, 'INSERT .. ON DUPLICATE KEY UPDATE incl. VALUES(col) and IF()'),
    ('dialect_various_join', SCRIPT_VARIOUS_JOIN, -1, ['t1a', 't1b', 't2a', 't2b', 't3a', 't3b', 't4a', 't4b', 't5a', 't5b', 't6a', 't6b'], False, 'inner/right/left join chains with multi-condition ON trees'),
    ('dialect_where', SCRIPT_WHERE, -2, None, False, 'WHERE predicates over all types; constant 1=2 folds (issue1383)'),
    ('dialect_order_by', SCRIPT_ORDER_BY, -1, ['a1', 'b1', 'a2', 'b2'], False, 'correlated scalar subqueries (MAX/AVG w/ GROUP BY) under comma joins + ORDER BY'),
    ('dialect_min_function', SCRIPT_MIN_FUNCTION, 2, ['b', 'm'], False, 'MIN(DISTINCT) scalar / grouped HAVING / ORDER BY DESC over CHAR groups'),
    ('dialect_max_function', SCRIPT_MAX_FUNCTION, 2, ['b', 'm'], False, 'MAX(DISTINCT) scalar / grouped HAVING / ORDER BY DESC over CHAR groups'),
    ('dialect_casewhen', SCRIPT_CASEWHEN, 0, ['id', 'v'], False, 'CASE col WHEN int THEN str ELSE text-col on an empty table (type unification)'),
    ('dialect_orquery1', SCRIPT_ORQUERY1, -1, ['c'], False, 'COUNT(*) with OR across INT and VARCHAR predicates'),
    ('dialect_group_concat2', SCRIPT_GROUP_CONCAT2, 0, ['id', 'gc'], False, 'GROUP_CONCAT ORDER BY DESC with space separator; DISTINCT with colon'),
    ('dialect_substr', SCRIPT_SUBSTR, 10, ['v'], False, 'SUBSTR comma and FROM..FOR forms over TEXT; literal forms under LIMIT'),
    ('dialect_substr_date', SCRIPT_SUBSTR, 12, ['v'], False, 'SUBSTR over DATE (string coercion) incl. 2-digit-year insert literals'),
    ('dialect_left_right', SCRIPT_LEFT_RIGHT, -1, None, False, 'LEFT/RIGHT over UNSIGNED INT values beyond int32 (string coercion)'),
    ('dialect_mid_function', SCRIPT_MID_FUNCTION, 9, ['b', 'm'], False, 'MID alias edge battery: negative/zero positions, out-of-range -> empty string'),
    ('dialect_replace_func', SCRIPT_REPLACE_FUNC, -1, ['b', 'r'], False, 'REPLACE scalar and per-row forms with multi-char needles'),
    ('dialect_md5_function', SCRIPT_MD5_FUNCTION, 3, ['t', 'h'], False, 'MD5 over every column type (string coercion); TEXT designated'),
    ('dialect_strings_like', SCRIPT_STRINGS, 46, ['v'], False, 'LIKE/ESCAPE battery: escape char = wildcard char, POSITION..IN compare'),
    ('dialect_flow_control', SCRIPT_FLOW_CONTROL, 2, None, False, 'simple CASE with boolean WHEN exprs (MySQL int coercion); IF/IFNULL/NULLIF'),
    ('dialect_day_function', SCRIPT_DAY_FUNCTION, 2, ['a', 'd'], False, 'DAY over DATE col and datetime-string literals'),
    ('dialect_year_function', SCRIPT_YEAR_FUNCTION, 4, ['d', 'y'], False, "YEAR over DATE/DATETIME/TIMESTAMP; invalid '12:13:14' -> NULL"),
    ('dialect_week_default', SCRIPT_WEEK_FUNCTION, 4, ['d', 'w'], False, 'WEEK default mode 0 over Jan-1-boundary dates'),
    ('dialect_week_mode2', SCRIPT_WEEK_FUNCTION, 7, ['d', 'w'], False, 'WEEK mode 2 (Sunday-first, week-year 1..53)'),
    ('dialect_week_mode5', SCRIPT_WEEK_FUNCTION, 10, ['d', 'w'], False, 'WEEK mode 5 (Monday-first, first-weekday week 1)'),
    ('dialect_week_mode7', SCRIPT_WEEK_FUNCTION, 12, ['d', 'w'], False, 'WEEK mode 7 (Monday-first, week-year, first-weekday)'),
    ('dialect_weekday', SCRIPT_WEEKDAY_FUNCTION, 3, ['d', 'wd'], False, 'WEEKDAY (Monday=0) over DATE/DATETIME/TIMESTAMP'),
    ('dialect_dayname', SCRIPT_DAYNAME, 2, ['a', 'dn'], False, 'DAYNAME over DATE col incl. far-future year 3333'),
    ('dialect_dayofyear', SCRIPT_DAYOFYEAR, 2, ['a', 'doy'], False, 'DAYOFYEAR over DATE col and datetime-string literals'),
    ('dialect_hour', SCRIPT_HOUR, 5, ['t', 'h'], False, 'HOUR over TIME strings, DATE (=0) and slash-delimited datetime literals'),
    ('dialect_last_day', SCRIPT_LAST_DAY, 3, ['d', 'ld'], False, 'LAST_DAY over DATE/DATETIME/TIMESTAMP; leap February via slash literal'),
    ('dialect_timediff', SCRIPT_TIMEDIFF, 6, ['dt', 'td'], False, 'TIMEDIFF class dispatch + ±838:59:59 clamp; DATE operand -> NULL'),
    ('dialect_period_diff', SCRIPT_PERIOD_DIFF, -1, ['a', 'pd'], False, 'PERIOD_DIFF YYMM pivot, decimal rounding, int64 saturation on huge doubles'),
    ('dialect_timestampdiff', SCRIPT_TIMESTAMPDIFF, 33, ['dt', 'n'], False, 'TIMESTAMPDIFF complete-unit counting over 9 units; 2-digit-year args'),
    ('dialect_timestampadd', SCRIPT_TIMESTAMPADD, 27, ['dt', 'ts2'], False, 'TIMESTAMPADD all 9 units over DATE/TIMESTAMP/DATETIME'),
    ('dialect_escape', SCRIPT_ESCAPE, 20, None, False, 'backslash-laden values + LIKE escapes (default \\, custom, CONCAT patterns); AUTO_INCREMENT ids'),
    ('dialect_left_fn', SCRIPT_LEFT_FUNCTION, -1, ['b', 'l'], False, 'LEFT() over literals, columns, 0/negative lengths, concat args'),
    ('dialect_right_fn', SCRIPT_RIGHT_FUNCTION, -1, ['b', 'r'], False, 'RIGHT() over literals, columns, 0/negative lengths, concat args'),
    ('dialect_substring_fn', SCRIPT_SUBSTRING_FUNCTION, -1, ['s'], False, 'SUBSTRING comma+FROM/FOR forms over TEXT/DATE/TIME columns'),
    ('dialect_ctas_types', SCRIPT_CTAS, -1, None, False, 'CTAS round-trip over 17 MySQL column types incl. blob/text/time', {'c_decimal': 'DOUBLE'}),
    ('dialect_signed_boundary', SCRIPT_SIGNED_BOUNDARY, 0, None, False, 'tianmu sentinel-adjusted INT/BIGINT insert bounds (1264 analogs); DBL_MAX literals'),
    ('dialect_integer_range', SCRIPT_INTEGER_RANGE, 0, None, False, 'strict string->int coercion: trim, round-half, 1264/1265/1366 classes (tinyint leg)'),
    ('dialect_integer_range_int8', SCRIPT_INTEGER_RANGE, 4, None, False, 'BIGINT coercion + reserved -2^63/-2^63+1 sentinels; int8 value battery'),
    ('dialect_zerofill', SCRIPT_ZEROFILL, -1, None, False, 'ZEROFILL display padding (implies UNSIGNED), ALTER MODIFY zerofill, unsigned 1264'),
    ('dialect_truncate', SCRIPT_TRUNCATE_TABLE, -1, ['n'], False, 'TRUNCATE TABLE + qualified names, CREATE TABLE LIKE, 1146/1064 error analogs'),
    ('dialect_replace', SCRIPT_REPLACE, -1, None, False, 'REPLACE INTO delete+insert semantics on 1- and 2-col PKs; interplay with DELETE'),
    ('dialect_delete_battery', SCRIPT_DELETE, 5, None, False, 'DELETE with LIMIT / ORDER BY LIMIT, LOW_PRIORITY, CHAR(0), 1054/1292 error analogs'),
    ('dialect_update_v1', SCRIPT_UPDATE_V1, -1, None, False, 'UPDATE unknown-column 1054 analogs, numeric timestamp literal, UPDATE ... LIMIT'),
    ('dialect_double_float', SCRIPT_DOUBLE_FLOAT, -1, None, False, 'DOUBLE/FLOAT extreme literals, NULL handling, deletes; trailing-# comments'),
    ('dialect_select_order_by', SCRIPT_SELECT_ORDER_BY, 0, None, False, 'ORDER BY over 10 column types incl. blob/text and year-3387 datetimes', {'t1_datetime': 'STRING', 't1_blob': 'STRING'}),
    ('dialect_unsigned_math', SCRIPT_UNSIGNED_MATH, -1, ['lbl', 'v'], False, 'math funcs over UNSIGNED tinyint..bigint columns; ALTER DROP COLUMN tail'),
    ('dialect_select_from', SCRIPT_SELECT_FROM, -1, ['idx', 'lbl'], False, 'FROM-clause shapes: derived tables, multi-table products, aliases'),
    ('dialect_aggregate', SCRIPT_AGGREGATE, -1, ['a'], False, 'aggregate battery: COUNT/SUM/AVG/MIN/MAX over mixed types', {'a': 'DOUBLE'}),
    ('dialect_auto_increment', SCRIPT_AUTO_INCREMENT, -1, None, False, 'AUTO_INCREMENT counter: explicit-value bumps, 0/NULL assignment, per-width cap errors (signed leg)'),
    ('dialect_auto_inc_seed', SCRIPT_AUTO_INC_SEED, -1, None, False, 'AUTO_INCREMENT=N table option + ALTER; upward UPDATE bumps the counter'),
    ('dialect_update_join', SCRIPT_UPDATE_JOIN, 2, None, False, 'UPDATE t1 JOIN/INNER JOIN t2 SET with WHERE over the pair'),
    ('dialect_update_join_left', SCRIPT_UPDATE_JOIN, -1, None, False, 'UPDATE t2 LEFT JOIN t1 SET right-side target; unmatched rows untouched'),
    ('dialect_delete_join', SCRIPT_DELETE_JOIN, 1, None, False, 'DELETE t1 FROM t1 INNER JOIN t2 with LIKE in the ON clause'),
    ('dialect_delete_join_left', SCRIPT_DELETE_JOIN, -1, None, False, 'DELETE t2 FROM t2 LEFT JOIN t1 WHERE t2 key IS NULL (unmatched-row delete)'),
    ('dialect_unsigned_type', SCRIPT_UNSIGNED_TYPE, -1, ['v'], False, 'UNSIGNED columns via ALTER ADD; UPDATE range 1264 analogs; tianmu-vs-innodb domains'),
    ('dialect_out_of_range', SCRIPT_OUT_OF_RANGE_ISSUE1151, -1, None, False, 'out-of-range INSERT behavior battery (issue1151 shape, strict aborts)'),
    ('dialect_bigint_unsigned', SCRIPT_BIGINT_UNSIGNED_X, 0, None, False, 'BIGINT UNSIGNED bounds incl. 0xFF.. hex literal, PK, ALTER MODIFY 1264 on negatives', {'a': 'DOUBLE'}),
    ('dialect_bigint_unsigned_mod', SCRIPT_BIGINT_UNSIGNED_X, -1, ['result'], False, 'infix MOD over bigint-unsigned column and huge CAST literal', {'result': 'DOUBLE'}),
    ('dialect_fn_inline', SCRIPT_SELECT_FUNCTION_CALLS_X, -1, ['col', 'a'], False, 'CREATE FUNCTION + calls over @vars and expressions; 1064/1318/1305 analogs'),
    ('dialect_insert_select', SCRIPT_INSERT_SELECT_X, -1, None, False, 'INSERT..SELECT incl. self-doubling, cross-join feeds, VALUES column self-refs, 1066'),
    ('dialect_unsigned_greatest', SCRIPT_UNSIGNED_GREATEST, -1, ['cidx', 'v'], False, 'GREATEST over unsigned ladders; runtime UPDATE 1264 analog on expression SET'),
    ('dialect_unsigned_least', SCRIPT_UNSIGNED_LEAST, -1, ['cidx', 'v'], False, 'LEAST over unsigned ladders; runtime UPDATE 1264 analog on expression SET'),
    ('dialect_alter_update', SCRIPT_ALTER_UPDATE, -1, None, False, 'ALTER TABLE then UPDATE over rewritten schema'),
    ('dialect_alter_delete', SCRIPT_ALTER_DELETE, -1, None, False, 'ALTER TABLE (incl. CONVERT TO CHARACTER SET no-op) then DELETE'),
    ('dialect_yearweek', SCRIPT_YEARWEEK_FUNCTION, -1, ['ts', 'yw'], False, 'YEARWEEK modes 0-7 over TIMESTAMP column'),
    ('dialect_weekofyear', SCRIPT_WEEKOFYEAR_FUNCTION, -1, ['d', 'w'], False, 'WEEKOFYEAR over DATE/TIMESTAMP columns'),
    ('dialect_dayofmonth', SCRIPT_DAYOFMONTH_FUNCTION, -1, ['d', 'v'], False, 'DAYOFMONTH over pre-1677 datetimes (string-compared designated)', {'d': 'STRING'}),
    ('dialect_date_fn', SCRIPT_DATE_FUNCTION, -1, ['b', 'd'], False, 'DATE() over year-1111/3333 datetime column and literals', {'b': 'STRING'}),
    ('dialect_empty_string_not_null', SCRIPT_EMPTY_STRING_NOT_NULL, -1, None, False, "''-vs-NULL distinction in TEXT columns across write paths"),
    ('dialect_insert_on_dup', SCRIPT_INSERT_ON_DUPLICATE_UPDATE, -1, None, False, 'INSERT ... ON DUPLICATE KEY UPDATE battery (verbatim file)'),
    ('dialect_alter_column', SCRIPT_ALTER_COLUMN, 1, None, False, 'ADD/MODIFY/RENAME/DROP COLUMN battery: 1060 dup, 1075 autoinc-key, decimal-18 cap'),
    ('dialect_alter_table1', SCRIPT_ALTER_TABLE1, -1, None, False, 'ALTER alter-default (+1064 on bare SET DEFAULT), ORDER BY, rename-in-ALTER chains'),
    ('dialect_unsigned_all', SCRIPT_UNSIGNED, -1, ['c1', 'lbl', 'ukey'], False, 'UNSIGNED float/double/decimal negative-insert 1264 analogs; full-ladder selects', {'lbl': 'DOUBLE'}),
    ('dialect_create_tmp', SCRIPT_CREATE_TMP, -1, ['c1', 'c2', 'l1', 'l2'], False, 'CREATE TEMPORARY TABLE battery: LIKE clones, autoinc, DECIMAL(38,10) (no tianmu cap)', {'c1': 'DOUBLE', 'c2': 'DOUBLE'}),
    ('dialect_temporary', SCRIPT_TEMPORARY_X, -1, None, False, 'TEMPORARY LIKE + multi-target comma UPDATE; duplicate temp name 1050 analog'),
    ('dialect_range_pk', SCRIPT_RANGE_X, 20, ['x'], False, 'composite-PK range scans: date+type+id predicates (classic range battery)', {'x': 'DOUBLE'}),
    ('dialect_range_mid', SCRIPT_RANGE_X, 60, ['a'], False, 'range battery mid-section: IN/BETWEEN/OR interval merges'),
    ('dialect_range_notbetween', SCRIPT_RANGE_X, -1, ['a', 'h'], False, 'NOT BETWEEN over padded CHAR + HEX(filler) after mass UPDATE'),
    ('dialect_ssb_flat', SCRIPT_SSB_SMALL, -1, None, False, 'SSB star-schema flat query over inline part/lineitem rows'),
    ('dialect_insert_types', SCRIPT_INSERT_ALL_DATA_TYPES, 0, None, False, 'INSERT over the all-types table (designated avoids the year-2387 timestamp rows)'),
    ('dialect_time_fn', SCRIPT_TIME_FUNCTION, -1, ['dt', 't'], False, 'TIME() over DATE/TIME/DATETIME cols and quirky literals (digits-only, zeroed fractions)'),
    ('dialect_time_fn_lit', SCRIPT_TIME_FUNCTION, 1, ['t'], False, "TIME('11:22:33.4455') tianmu fraction-zeroing quirk"),
    ('dialect_sec_to_time', SCRIPT_FUNC_SEC_TO_TIME, -1, ['a', 't'], False, 'SEC_TO_TIME over DOUBLE: signed HH:MM:SS.ffffff text, ±838h clamp'),
    ('dialect_addtime', SCRIPT_ADDTIME_FUNCTION, -1, ['c', 't'], False, 'ADDTIME over DATETIME col with D H:M:S / HH:MM / digit deltas (year-1212 rows compared as text)', {'c': 'STRING', 't': 'STRING'}),
    ('dialect_addtime_lit', SCRIPT_ADDTIME_FUNCTION, 1, ['t'], False, 'ADDTIME literal folding incl. fractional delta'),
    ('dialect_conv_fn', SCRIPT_CONVERT_CONV_FUNC, 15, ['b', 'v'], False, 'CONV base conversion over INT col (10->16) + CONVERT CAST forms'),
    ('dialect_conv_lit', SCRIPT_CONVERT_CONV_FUNC, 9, ['v'], False, 'CONV literal folding across bases 2/8/10/16'),
    ('dialect_std_floor', SCRIPT_STD_TEST, 0, ['lbl', 'v'], False, 'floor(STD(tinyint)) over the 253-row LOAD DATA tinyint_range fixture; STD = POPULATION stddev (Spark/Duck aliases are sample)', {'v': 'DOUBLE'}),
    ('dialect_std_bigint', SCRIPT_STD_TEST, 8, ['lbl', 'v'], False, 'floor(STD(bigint)) at +-9.2e18 built by UPDATE arithmetic over loaded rows', {'v': 'DOUBLE'}),
    ('dialect_std_varsamp', SCRIPT_STD_TEST, -1, ['lbl', 'v'], False, 'floor(VAR_SAMP(double unsigned)) tail of the 52-select std battery', {'v': 'DOUBLE'}),
    ('dialect_load_ragged', SCRIPT_ISSUE1209, 0, None, False, "LOAD DATA LINES TERMINATED BY ';' with ragged rows: extra fields truncated (1262), short rows NULL-padded (1261), empty field -> NULL vs invalid text -> 0"),
    ('dialect_load_enclosed', SCRIPT_ISSUE1209, 1, None, False, 'LOAD DATA ENCLOSED BY with unterminated final enclosure kept raw (tianmu keeps the opening quote)'),
    ('dialect_load_ssb', SCRIPT_ISSUE852, 0, None, False, 'LOAD DATA comma-separated with commas INSIDE enclosed fields; compact 19980721 date literals'),
    ('dialect_load_join', SCRIPT_UNSIGNED_JOIN, 0, None, False, 'inner-join COUNT over 150/1500-row LOAD DATA tpch fixtures with INT UNSIGNED keys'),
    ('dialect_load_join_anti', SCRIPT_UNSIGNED_JOIN, 4, None, False, 'NOT EXISTS anti-join count over the loaded customer/orders fixtures'),
    ('dialect_cast_signed', SCRIPT_CAST_DATA_TYPES, 1, ['a', 'b', 'c', 'd', 'e'], False, "CAST AS SIGNED lenient battery: ''->0, 'A'->0, 50-digit strings -> -1 (strtoull reinterpret), decimals round half-away"),
    ('dialect_cast_char', SCRIPT_CAST_DATA_TYPES, 2, ['a', 'b', 'c', 'd', 'e'], False, 'CAST AS CHAR(10) truncation over int/decimal/char/text/varchar'),
    ('dialect_cast_decimal', SCRIPT_CAST_DATA_TYPES, 3, ['a', 'b', 'c', 'd', 'e'], False, 'CAST AS DECIMAL(6,5) clamping to +-9.99999 (1264) + M<D / p>65 / s>30 error analogs', {'a': 'DOUBLE', 'b': 'DOUBLE', 'c': 'DOUBLE', 'd': 'DOUBLE', 'e': 'DOUBLE'}),
    ('dialect_precision_strict', SCRIPT_SELECT_PRECISION, 3, ['col'], False, 'strict 1264/1365 INSERT errors then non-strict clamp-to-127 and 1/0 -> NULL'),
    ('dialect_precision_round', SCRIPT_SELECT_PRECISION, 4, ['col', 'r0', 'r1', 'rm1', 'rm2', 'r3'], False, 'ROUND battery over FLOAT storage incl. negative digits (-0.0 canonicalized)', {'col': 'DOUBLE', 'r0': 'DOUBLE', 'r1': 'DOUBLE', 'rm1': 'DOUBLE', 'rm2': 'DOUBLE', 'r3': 'DOUBLE'}),
    ('dialect_precision_exact', SCRIPT_SELECT_PRECISION, 5, ['v'], False, '(.1 + .2) = .3 is TRUE in decimal arithmetic (and FALSE in the float leg)', {'v': 'INT'}),
    ('dialect_precision_div', SCRIPT_SELECT_PRECISION, 8, ['v'], False, '.1 / .1 decimal division precision (MySQL div_precision_increment)', {'v': 'DOUBLE'}),
    ('dialect_load_skip', SCRIPT_ISSUE1000, 0, None, False, 'LOAD DATA IGNORE n LINES ladder incl. the zero-rows-left no-op load'),
    ('dialect_load_setvar', SCRIPT_ISSUE1000, 5, None, False, 'LOAD DATA (col,@var1) SET col2=@var1+100 per-row variable binding'),
    ('dialect_load_defaults', SCRIPT_ISSUE1000, 6, None, False, 'LOAD DATA partial column list fills unlisted columns with their DEFAULT'),
    ('dialect_load_autoinc', SCRIPT_ISSUE1000, 7, None, False, 'LOAD DATA partial column list assigns AUTO_INCREMENT ids to the omitted PK'),
    ('dialect_load_logfile', SCRIPT_ISSUE1000, 8, None, False, "multi-char terminator 'xykls37', ESCAPED BY '', SET constant, temp table, autoinc over a 14-line log fixture"),
    ('dialect_autoinc_load', SCRIPT_INIT_AUTOINC, -1, None, False, "AUTO_INCREMENT=seed + UPDATE bumps + ALTER seed + LOAD DATA '0' ids drawing from the counter"),
    ('dialect_unsigned_battery', SCRIPT_UNSIGNED_SUPPORT, 0, None, False, 'tinyint unsigned insert battery with 1264 bounds, overflow-multiply 1690/1105 analogs asserted along the way'),
    ('dialect_unsigned_agg5', SCRIPT_UNSIGNED_SUPPORT, 2, ['av', 's', 'mx', 'mn', 'c'], True, 'AVG/SUM/MAX/MIN/COUNT over tinyint unsigned'),
    ('dialect_unsigned_nonstrict', SCRIPT_UNSIGNED_SUPPORT, 37, None, False, "SET sql_mode='TRADITIONAL' strict 1264s then sql_mode='' clamp-to-bound inserts across 7 int widths"),
    ('dialect_outfile_roundtrip', SCRIPT_UNSIGNED_SUPPORT, -1, None, False, 'SELECT INTO OUTFILE (default TSV format) then TRUNCATE + LOAD DATA reload: text round-trip identity'),
    ('dialect_hex_utf8', SCRIPT_ISSUE1169, -1, None, False, "x'hex' utf8mb4 string literals, HEX() over multi-byte columns, INTO OUTFILE exports along the way"),
    ('dialect_load_nullword', SCRIPT_ISSUE1153, 1, None, False, "OPTIONALLY ENCLOSED load: unenclosed literal word 'null' reads as SQL NULL only when an enclosure is declared"),
    ('dialect_load_notnull_default', SCRIPT_ISSUE1153, 4, None, False, 'LOAD DATA NULL into NOT NULL bigint stores the implicit default 0 (warning 1263 analog), never errors'),
    ('dialect_load_set_override', SCRIPT_ISSUE1153, 2, None, False, 'LOAD DATA SET a = @sessionvar/2 overrides the positional field for every row'),
    ('dialect_load_optenclosed_text', SCRIPT_ISSUE1153, 9, None, False, 'varchar legs: enclosed "null" stays text, unenclosed null -> NULL, quote retention without enclosure'),
    ('dialect_load_alter_default', SCRIPT_ISSUE1865, -1, None, False, 'ALTER COLUMN DROP/SET DEFAULT changes what later partial-column-list LOADs fill in; explicit \\N stays NULL even with a column DEFAULT'),
    ('dialect_nonfull_groupby', SCRIPT_ISSUE1107, -1, ['id', 'unitsn', 'v1', 'v2', 'v3', 'v4', 'v5'], False, 'ONLY_FULL_GROUP_BY disabled: non-aggregated CASE pivot columns under GROUP BY take a group representative (MIN; MySQL contract is any member, tianmu shows first-row picks)'),
    ('dialect_bit_literals', SCRIPT_BIT_TYPE, 0, ['v', 'b2', 'b8', 'hx'], False, "BIT(8) literals b'…'/B'…'/0b… incl. b'' = 0; BIN/OCT/HEX readback; 1406 too-long, 1064 b'2', 1054 uppercase-0B analogs"),
    ('dialect_bit_strings', SCRIPT_BIT_TYPE, 1, ['v', 'b2', 'b8', 'hx'], False, "string into BIT reads the BYTES big-endian ('1'->49, ' '->32, ''->0; 2-byte strings overflow BIT(8) with 1406)"),
    ('dialect_bit_ops_logic', SCRIPT_BIT_TYPE_OPS, 2, ['nota', 'istrue', 'isnullb', 'notnullab', 'bang', 'andb', 'and0', 'andnull', 'or1', 'orb', 'xor1', 'xorb', 'xor0'], False, "numeric logical ops over BIT: NOT/!/AND/OR/XOR truthiness (nonzero=true, NULL-propagating), IS TRUE never NULL; 1690 overflow + 1064 uppercase-0B legs asserted"),
    ('dialect_bit_coalesce', SCRIPT_BIT_TYPE_OPS, 1, ['c', 'g0', 'g123', 'istrue', 'isfalse', 'isn', 'isn2', 'l'], False, 'COALESCE/GREATEST/LEAST and IS TRUE/FALSE/NULL over BIT columns', {'l': 'DOUBLE'}),
    ('dialect_bit_charset_fns', SCRIPT_BIT_TYPE_OPS, 9, ['cs', 'coll'], False, "CHARSET(BINARY x)/COLLATION(BINARY x) introspection = 'binary'; _latin1 b'1000001' introducer-over-bit-literal runs along the way"),
    ('dialect_replace_composite_pk', SCRIPT_ISSUE1152, -1, None, False, 'REPLACE INTO against a composite (id,id1) PRIMARY KEY: non-matching tuple inserts rather than replacing'),
    ('dialect_derived_substr_group', SCRIPT_ISSUE1258, -1, None, False, 'derived table whose COUNT() alias shadows a base column name; GROUP BY SUBSTR(...) expression key under a self-join'),
    ('dialect_implicit_group_empty', SCRIPT_ISSUE1784, 26, ['a', 's'], True, 'aggregate + bare column with NO GROUP BY over an empty table: one implicit group -> one all-NULL row (non-OFGB)'),
    ('dialect_implicit_group', SCRIPT_ISSUE1784, 46, ['a', 's'], True, 'CASE expr + SUM with no GROUP BY: the whole table is one implicit group, bare items take a group representative'),
    ('dialect_charsets_a_first', SCRIPT_CHARSETS_A, 0, None, False, 'charset matrix (a): varchar widths under session/table/column charsets; introducer literals, utf8-vs-utf8mb4 1366/1406 analogs asserted along the run'),
    ('dialect_charsets_a_last', SCRIPT_CHARSETS_A, -1, None, False, 'charset matrix (a) final section: utf8mb4 table-level charset accepts beyond-BMP emoji the utf8 sections reject'),
    ('dialect_charsets_b_mid', SCRIPT_CHARSETS_B, 10, None, False, 'charset matrix (b) mid battery: mixed column-level charsets with INSERT IGNORE truncation legs'),
    ('dialect_charsets_b_last', SCRIPT_CHARSETS_B, -1, None, False, 'charset matrix (b) final section over 12-column charset-mixed tables'),
    ('dialect_proc_insert_select', SCRIPT_INSERT_INTO_SELECT_PROC, 1, ['c', 'n'], True, 'DELIMITER + CREATE PROCEDURE WHILE loop generating 5000 rows (batched into one multi-row INSERT); INSERT..SELECT from derived tables; SUM(col IS NULL) bool coercion'),
    ('dialect_proc_insert_select_nn', SCRIPT_INSERT_INTO_SELECT_PROC, 6, ['c', 'n'], True, "NOT NULL DEFAULT '123' varchar scenario: re-CALLed generator procedure truncates and refills; cross-engine INSERT..SELECT copies"),
    ('dialect_replace_into', SCRIPT_REPLACE_INTO_X, -1, None, False, 'REPLACE INTO battery: VALUES on single/composite PKs, REPLACE..SELECT from a second table, REPLACE..SET (final state)'),
    ('dialect_replace_into_mid', SCRIPT_REPLACE_INTO_X, 3, None, False, 'REPLACE INTO mid-state: after first REPLACE..SELECT + REPLACE..SET round over the version-tracking table'),
    ('dialect_ctas1', SCRIPT_CTAS1, -1, None, False, 'CTAS battery final leg: create table .. select id+1 arithmetic; CREATE TABLE (coldefs) SELECT column-merge (user_bk4/bk5), natural-join CTAS run along the way'),
    ('dialect_ctas1_first', SCRIPT_CTAS1, 0, None, False, 'CTAS full-copy clone of an AUTO_INCREMENT utf8 table (ids assigned by the counter)'),
    ('dialect_select_joins', SCRIPT_SELECT_JOINS, -1, ['a', 'b'], False, 'RIGHT JOIN over two tables with NULL rows from empty-VALUES inserts'),
    ('dialect_select_joins_left', SCRIPT_SELECT_JOINS, 1, ['a', 'b'], False, 'self LEFT JOIN with NULL keys (never match)'),
    ('dialect_select_joins_61', SCRIPT_SELECT_JOINS, 3, ['a'], False, '61-table LEFT JOIN USING chain (MySQL MAX_TABLES cap); the 62-table --error ER_TOO_MANY_TABLES leg asserted along the way'),
    ('dialect_delete_signed_where', SCRIPT_DELETE_SIGNED, 4, ['lbl', 'd1', 'd2'], False, 'DELETE WHERE over DECIMAL(18,10): single-row constant predicates after procedure-generated fixtures (signedtest2)', {'d1': 'DOUBLE', 'd2': 'DOUBLE'}),
    ('dialect_delete_signed_3vl', SCRIPT_DELETE_SIGNED, 16, ['lbl', 'd1', 'd2'], False, 'DELETE WHERE d1 != x three-valued semantics: NULL predicate rows survive != but fall to the IS NULL delete before it (signedtest6)', {'d1': 'DOUBLE', 'd2': 'DOUBLE'}),
    ('dialect_delete_signed_colcmp', SCRIPT_DELETE_SIGNED, -1, ['lbl', 'd1', 'd2'], False, 'DELETE WHERE d1 > d2 column-vs-column over DECIMAL(18,10) (signedtest10); delete/insert procedures re-CALLed between legs', {'d1': 'DOUBLE', 'd2': 'DOUBLE'}),
    ('dialect_update_signed', SCRIPT_UPDATE_SIGNED, 1, ['lbl', 'd1', 'd2'], False, 'UPDATE SET without WHERE over DECIMAL(18,10): every row rewritten (signedtest1)', {'d1': 'DOUBLE', 'd2': 'DOUBLE'}),
    ('dialect_update_signed_final', SCRIPT_UPDATE_SIGNED, -1, ['lbl', 'd1', 'd2'], False, 'UPDATE battery final state: constant/column WHERE predicates over procedure-refilled decimals', {'d1': 'DOUBLE', 'd2': 'DOUBLE'}),
    ('dialect_group_order', SCRIPT_SELECT_ORDER_GROUP, 0, ['userid', 'm'], False, 'GROUP BY + ORDER BY over a comma join (MIN aggregate)'),
    ('dialect_group_order_limit', SCRIPT_SELECT_ORDER_GROUP, 3, ['userid', 'm'], False, 'GROUP BY + ORDER BY ASC LIMIT 2 top-k over the join'),
    ('dialect_group_order_multi', SCRIPT_SELECT_ORDER_GROUP, 4, ['spid', 'userid', 'm'], False, 'multi-column GROUP BY with reordered ORDER BY columns'),
    ('dialect_group_order_null', SCRIPT_SELECT_ORDER_GROUP, -1, ['userid', 'm'], False, 'ORDER BY NULL (no sort contract); 1054 unknown-column GROUP BY/ORDER BY legs asserted along the way'),
    ('dialect_composite_pk', SCRIPT_COMPOSITE_PK, -1, None, False, "composite (id,c1) PRIMARY KEY dup detection: '' and 'xxx' are distinct key parts, exact dup raises 1062 (probe select appended; source file has no SELECT)"),
    ('dialect_func_math_format', SCRIPT_FUNC_MATH, 0, ['f'], False, "FORMAT(x, 0) thousands grouping over join arithmetic ('10,000'); the file's 40+ --error 1690/1105 literal-overflow legs all asserted along the run"),
    ('dialect_func_math_unsigned_cast', SCRIPT_FUNC_MATH, 1, ['a', 'b', 'c'], False, "CAST(-2 AS UNSIGNED) two's-complement reinterpret = 18446744073709551614 next to the raw u64 literal and signed -2", {'a': 'DOUBLE', 'b': 'DOUBLE', 'c': 'DOUBLE'}),
    ('dialect_func_math_format_u64', SCRIPT_FUNC_MATH, 5, ['a', 'b', 'c'], False, "FORMAT(u64, 2) exact grouping: '18,446,744,073,709,551,614.00' (DECIMAL-exact, no double rounding)"),
    ('dialect_func_math_sqrt', SCRIPT_FUNC_MATH, 6, ['a', 'b', 'c'], False, 'SQRT over u64 values = 4294967296; SQRT(-2) is NULL (not NaN/error)'),
    ('dialect_func_math_truncate', SCRIPT_FUNC_MATH, 9, ['a', 'b', 'c'], False, 'TRUNCATE(u64, 1) stays exact (decimal power path, no double/int64 saturation)', {'a': 'DOUBLE', 'b': 'DOUBLE', 'c': 'DOUBLE'}),
    ('dialect_func_math_mod', SCRIPT_FUNC_MATH, 12, ['a', 'b', 'c'], False, 'MOD(5, u64) = 5 exact; MOD(5, -2) keeps dividend sign', {'a': 'DOUBLE', 'b': 'DOUBLE', 'c': 'DOUBLE'}),
    ('dialect_func_math_pow', SCRIPT_FUNC_MATH, 13, ['a', 'b', 'c'], False, 'POW(u64, 5) = 2.136e96 double; POW(-2, 5) = -32'),
    ('dialect_func_math_mod_huge', SCRIPT_FUNC_MATH, -1, ['v'], False, '21-digit DECIMAL literal MOD -1 = 0 (beyond-BIGINT operand, in-range result); NO_UNSIGNED_SUBTRACTION mode legs asserted along the way', {'v': 'DOUBLE'}),
    ('dialect_insert_alltypes', SCRIPT_INSERT_FULL, 0, None, False, '17-type INSERT battery over the full column-type table (tinyint..longblob)', {'c_decimal': 'DOUBLE', 'c_float': 'DOUBLE'}),
    ('dialect_insert_oldvalues', SCRIPT_INSERT_FULL, 1, None, False, 'INSERT VALUES self-references read prior-column/default values (values (a+2), (5),(a+6))'),
    ('dialect_insert_defaults', SCRIPT_INSERT_FULL, 2, ['a', 't_pos', 'c', 'i'], False, 'INSERT all-DEFAULT tuples: AUTO_INCREMENT + CURRENT_TIMESTAMP + char default; numeric 0 into TIMESTAMP is the zero-date (t>0 = 0)'),
    ('dialect_insert_set_defaults', SCRIPT_INSERT_FULL, 3, ['a', 't_pos', 'c', 'i'], False, 'INSERT SET form with DEFAULT and NULL mixes after TRUNCATE'),
    ('dialect_insert_null_multirow', SCRIPT_INSERT_FULL, 4, None, False, 'NULL into NOT NULL: single-row errors 1048, multi-row stores the implicit default 0 (warning semantics)'),
    ('dialect_insert_selfjoin_feed', SCRIPT_INSERT_FULL, 6, ['c'], True, 'mysqltest while-loop generators (100/500/5000 rows, batched): INSERT INTO t2 SELECT t1.* FROM t1, t2 t, t3 three-way join feed; COUNT after'),
    ('dialect_insert_view_upsert', SCRIPT_INSERT_FULL, 11, None, False, 'ON DUPLICATE KEY through a join view raises 1393; base table unchanged'),
    ('dialect_insert_through_view', SCRIPT_INSERT_FULL, 15, None, False, 'PREPARE/EXECUTE INSERT into a nested single-table view writes the base table'),
    ('dialect_insert_temptable_view', SCRIPT_INSERT_FULL, -1, None, False, 'INSERT through an ALGORITHM=UNDEFINED view over a TEMPTABLE natural-join view'),
    ('dialect_alter_modify_show', SCRIPT_ALTER_TABLE_SHOW, 0, None, False, 'SHOW CREATE TABLE after ALTER MODIFY varchar->char: byte-exact MySQL DDL rendering (int(11) widths, DEFAULT NULL, AUTO_INCREMENT, table charset)', None, {'show': 0}),
    ('dialect_alter_modify_show_final', SCRIPT_ALTER_TABLE_SHOW, 0, None, False, 'SHOW CREATE TABLE after the full MODIFY chain (char widths grown/shrunk, non-strict smallint conversion)', None, {'show': -1}),
    ('dialect_alter_null_show', SCRIPT_ALTER_NULL, 0, None, False, 'alter_table_null: SHOW/DESCRIBE after nullability-changing ALTERs (first output)', None, {'show': 0}),
    ('dialect_alter_null_show_final', SCRIPT_ALTER_NULL, 0, None, False, 'alter_table_null: final SHOW/DESCRIBE state', None, {'show': -1}),
    ('dialect_alter_mix_show', SCRIPT_ALTER_MIX, 0, None, False, 'alter_table_mix_use: SHOW after mixed ADD/MODIFY/DROP chains (first output)', None, {'show': 0}),
    ('dialect_alter_mix_show_final', SCRIPT_ALTER_MIX, 0, None, False, 'alter_table_mix_use: final SHOW state after the whole mixed-ALTER battery', None, {'show': -1}),
    ('dialect_alter_negative_show', SCRIPT_ALTER_NEGATIVE, 0, None, False, 'negative ALTERs all error (1064 empty/invalid ENGINE=, 1286, 1146 missing table, 1091 unknown drop, 1054 unknown change); SHOW CREATE proves the table unchanged', None, {'show': 0}),
    ('dialect_alter_v1_order', SCRIPT_ALTER_V1, 2, ['n'], False, 'ALTER TABLE ... ORDER BY physical reorder (add column with order-by action runs before)'),
    ('dialect_alter_v1_autoinc', SCRIPT_ALTER_V1, -1, ['i'], False, 'AUTO_INCREMENT column filled by (null),(null) inserts after ALTER ORDER BY battery'),
    ('dialect_load_65k_pk_dedup', SCRIPT_ISSUE1263, 0, ['c'], False, '65543-row LOAD DATA through the distributed reader (spark.read.csv / DuckDB read_csv — beyond the compiled-INSERT cap); duplicate PK skipped like tianmu -> 65542', {'c': 'DOUBLE'}),
    ('dialect_load_65k_skip30', SCRIPT_ISSUE1263, 1, ['c'], False, '65k distributed LOAD with IGNORE 30 LINES -> 65513 rows', {'c': 'DOUBLE'}),
    ('dialect_load_double_enclosed', SCRIPT_ISSUE1263, 2, None, False, 'LOAD DATA fields with doubled enclosure chars and embedded line breaks inside enclosed text; per-column @var SET NULLIF binding'),
    ('dialect_load_ragged_error', SCRIPT_ISSUE1263, -1, None, False, "ragged LOAD row errors (Row 1 doesn't contain data for all columns) and leaves prior rows intact"),
    ('dialect_ts_union_ts', SCRIPT_ISSUE880, 0, ['ct'], False, 'timestamp UNION timestamp over parenthesized ON-less joins fed by a 26k-row distributed LOAD (issue880_t2 fixture not shipped by the reference: its LOAD line is excluded, table stays empty)'),
    ('dialect_ts_union_datetime', SCRIPT_ISSUE880, 2, ['ct'], False, 'timestamp UNION datetime type unification over the loaded tables'),
    ('dialect_varchar_union_ts', SCRIPT_ISSUE880, 4, ['ct'], False, 'varchar UNION timestamp unifies to STRING (MySQL rule; Spark ANSI would coerce the other way and fault)'),
    ('dialect_ts_union_varchar', SCRIPT_ISSUE880, -1, ['ct'], False, 'timestamp UNION varchar unifies to STRING; cross-branch column-type inference through parenthesized joins'),
    ('dialect_issue405', SCRIPT_ISSUE405, -1, None, False, 'verbatim issue regression: GROUP BY over DATE with COUNT after UPDATE of date values'),
    ('dialect_issue417', SCRIPT_ISSUE417, -1, None, False, 'verbatim issue regression: regression scenario issue417'),
    ('dialect_issue430', SCRIPT_ISSUE430, -1, None, False, 'verbatim issue regression: regression scenario issue430'),
    ('dialect_issue433', SCRIPT_ISSUE433, -1, None, False, 'verbatim issue regression: regression scenario issue433'),
    ('dialect_issue467', SCRIPT_ISSUE467, -1, None, False, 'verbatim issue regression: regression scenario issue467'),
    ('dialect_issue736', SCRIPT_ISSUE736, -1, None, False, 'verbatim issue regression: regression scenario issue736'),
    ('dialect_issue496', SCRIPT_ISSUE496, -1, None, False, 'verbatim issue regression: regression scenario issue496'),
    ('dialect_issue1625', SCRIPT_ISSUE1625, -1, None, False, 'verbatim issue regression: regression scenario issue1625'),
    ('dialect_issue281', SCRIPT_ISSUE281, -1, None, False, 'verbatim issue regression: regression scenario issue281'),
    ('dialect_issue1363', SCRIPT_ISSUE1363, -1, None, False, 'verbatim issue regression: regression scenario issue1363', {'a': 'DOUBLE'}),
    ('dialect_issue1385', SCRIPT_ISSUE1385, -1, None, False, 'verbatim issue regression: regression scenario issue1385'),
    ('dialect_issue502', SCRIPT_ISSUE502, -1, None, False, 'verbatim issue regression: regression scenario issue502'),
    ('dialect_issue1510', SCRIPT_ISSUE1510, -1, None, False, 'verbatim issue regression: regression scenario issue1510'),
    ('dialect_issue441', SCRIPT_ISSUE441, -1, None, False, 'verbatim issue regression: regression scenario issue441'),
    ('dialect_issue1564', SCRIPT_ISSUE1564, -2, None, False, 'verbatim issue regression: regression scenario issue1564'),
    ('dialect_issue515', SCRIPT_ISSUE515, -1, ['ge', 'val'], False, 'verbatim issue regression: regression scenario issue515'),
    ('dialect_issue431', SCRIPT_ISSUE431, -1, None, False, 'verbatim issue regression: boolean tree with a bare numeric leaf: (b = 5 AND a > 2 OR 0)'),
    ('dialect_issue469', SCRIPT_ISSUE469, -1, None, False, 'verbatim issue regression: null-safe <=> inside mixed AND/OR with a bare (1) truthy leaf'),
    ('dialect_issue468', SCRIPT_ISSUE468, -1, None, False, 'verbatim issue regression: deep AND/OR nesting over bare numeric columns (e1 AND ((e2 AND e3 AND (e4 OR e5)) OR e6) ...)'),
    ('dialect_issue1942', SCRIPT_ISSUE1942, -1, ['s'], False, 'verbatim issue regression: SUM over (c0 IS NULL) IS TRUE / CAST(boolean AS UNSIGNED) 0-1 coercions', {'s': 'DOUBLE'}),
    ('dialect_issue1942_1', SCRIPT_ISSUE1942, 1, ['s'], False, 'verbatim issue regression: boolean-to-unsigned CAST aggregation over the empty table (NULL sum)', {'s': 'DOUBLE'}),
    ('dialect_issue446', SCRIPT_ISSUE446, -1, ['one'], False, 'verbatim issue regression: comparison XOR comparison across a derived-table join'),
    ('dialect_issue1361', SCRIPT_ISSUE1361, -1, None, False, 'verbatim issue regression: --echo # Test issue1361 bigint range'),
    ('dialect_issue1708', SCRIPT_ISSUE1708, -1, None, False, 'verbatim issue regression: Creating test database test_db_1708'),
    ('dialect_issue981', SCRIPT_ISSUE981, -1, ['ge', 'val'], False, 'verbatim issue regression: datetime-literal >= compare select item named by the raw expression'),
    ('dialect_issue938', SCRIPT_ISSUE938, -1, ['gc'], False, 'verbatim issue regression: GROUP_CONCAT with ORDER BY over decimal column'),
    ('dialect_issue1864', SCRIPT_ISSUE1864, -1, ['a', 'b', 'c'], False, 'verbatim issue regression: aggregate battery (3-column output) after UPDATEs', {'a': 'DOUBLE', 'b': 'DOUBLE', 'c': 'DOUBLE'}),
    ('dialect_issue1402', SCRIPT_ISSUE1402, 0, ['av', 'c', 'mx', 'mn', 's'], False, 'verbatim issue regression: AVG/COUNT/MAX/MIN/SUM battery leg 0', {'c': 'DOUBLE', 'mx': 'DOUBLE', 'mn': 'DOUBLE', 's': 'DOUBLE'}),
    ('dialect_issue1402_1', SCRIPT_ISSUE1402, 5, None, False, 'verbatim issue regression: mid-battery aggregate leg', {'d': 'DOUBLE'}),
    ('dialect_create_db', SCRIPT_CREATE_DB, -1, ['ok'], False, 'CREATE DATABASE validation battery: 1059 64-char name cap, 1007 duplicate, 1064 digits-only and string-literal names; digit-leading and $-names accepted (probe select appended; file has no SELECT)'),
    ('dialect_dropdb', SCRIPT_DROPDB, -1, ['n'], False, 'create db, table inside, DROP DATABASE wipes (probe count appended)'),
    ('dialect_v_issue1157', SCRIPT_V_ISSUE1157, -1, None, False, 'verbatim MTR regression: issue1157'),
    ('dialect_v_issue342', SCRIPT_V_ISSUE342, -1, None, False, 'verbatim MTR regression: issue342', {'total_revenue': 'DOUBLE'}),
    ('dialect_v_issue1079_366', SCRIPT_V_ISSUE1079_366, -1, None, False, 'verbatim MTR regression: issue1079_366'),
    ('dialect_v_issue1175', SCRIPT_V_ISSUE1175, -1, None, False, 'verbatim MTR regression: Creating test database issue1175_test'),
    ('dialect_v_issue971', SCRIPT_V_ISSUE971, -1, None, False, 'verbatim MTR regression: issue971'),
    ('dialect_v_issue767', SCRIPT_V_ISSUE767, -1, None, False, 'verbatim MTR regression: issue767'),
    ('dialect_v_alter_bit', SCRIPT_V_ALTER_BIT, -1, None, False, 'verbatim MTR regression: --echo # Test alter bit'),
    ('dialect_v_issue947', SCRIPT_V_ISSUE947, 0, None, False, 'verbatim MTR regression: issue947'),
    ('dialect_v_insert_select_from', SCRIPT_V_INSERT_SELECT_FROM, -1, None, False, 'verbatim MTR regression: --echo # Test INSERT..SELECT statement'),
    ('dialect_v_issue1912', SCRIPT_V_ISSUE1912, -1, None, False, 'verbatim MTR regression: issue1912'),
    ('dialect_v_issue1931', SCRIPT_V_ISSUE1931, -1, None, False, 'verbatim MTR regression: issue1931', {'CURRENCY_ID': 'DOUBLE'}),
    ('dialect_v_issue763', SCRIPT_V_ISSUE763, -1, None, False, 'verbatim MTR regression: --echo # SELECT ... FROM tablename WHERE col LIKE NULL'),
    ('dialect_v_issue1394', SCRIPT_V_ISSUE1394, 0, None, False, 'verbatim MTR regression: issue1394'),
    ('dialect_v_issue1938', SCRIPT_V_ISSUE1938, -1, ['cid', 'cname'], False, 'verbatim MTR regression: issue1938', {'cid': 'DOUBLE'}),
    ('dialect_v_issue964', SCRIPT_V_ISSUE964, -1, ['c0', 'c1', 'c2', 'c3'], False, 'verbatim MTR regression: issue964'),
    ('dialect_v_issue282', SCRIPT_V_ISSUE282, -1, ['c0', 'c1', 'c2', 'c3', 'c4'], False, 'verbatim MTR regression: --echo # Multiple nesting'),
    ('dialect_v_issue1861', SCRIPT_V_ISSUE1861, -1, ['c0', 'c1', 'c2', 'c3', 'c4', 'c5'], False, 'verbatim MTR regression: issue1861'),
    ('dialect_issue1070', SCRIPT_ISSUE1070, -1, ['h'], False, 'verbatim issue regression: regression scenario issue1070'),
    ('dialect_date_formats', SCRIPT_DATE_FORMATS, 2, ['date', 'format', 'str_to_date'], False, 'STR_TO_DATE %-spec battery over a (value, format) table: numeric/name/week/yearday specs, AM/PM, skip-specs, DATETIME(6) dynamic typing'),
    ('dialect_date_formats_castdt', SCRIPT_DATE_FORMATS, 4, ['date', 'format', 'datetime'], False, 'CAST(STR_TO_DATE(...) AS DATETIME) strips the fractional rendering (DATETIME(0))'),
    ('dialect_date_formats_timepart', SCRIPT_DATE_FORMATS, 6, ['date', 'format', 'time'], False, 'TIME(STR_TO_DATE(...)) extracts the time part of the MySQL rendering incl. zero dates'),
    ('dialect_date_formats_bad', SCRIPT_DATE_FORMATS, 9, ['date', 'format', 'str_to_date'], False, 'wrong dates / conversion specifiers all NULL: %p with %H, ambiguous name prefixes, week-spec pairing violations, %w=7'),
    ('dialect_date_formats_maybe', SCRIPT_DATE_FORMATS, 11, ['date', 'format', 'str_to_date'], False, 'maybe-formats: trailing garbage keeps the parsed prefix with a warning'),
    ('dialect_date_formats_literal', SCRIPT_DATE_FORMATS, 15, None, False, 'constant-format STR_TO_DATE derives the result type from the specs: DATETIME(6)/(0), DATE, and TIME with day*24 folded into hours (58:11:12)'),
    ('dialect_date_formats_lenient', SCRIPT_DATE_FORMATS, 16, ['f1', 'f2', 'f3'], False, 'lenient temporal string reads: trailing-garbage STR_TO_DATE, ADDTIME over a garbage-suffixed TIME, MICROSECOND of a truncated literal'),
    ('dialect_date_formats_ordname', SCRIPT_DATE_FORMATS, 18, ['d1', 'd2'], False, 'DATE_FORMAT %M month NAME on both engines (strftime %B, not minutes) incl. ORDER BY on it'),
    ('dialect_date_formats_join', SCRIPT_DATE_FORMATS, 19, ['a1', 'a2', 'b'], False, 'LEFT JOIN ON a compact date string literal (b = 20161213 as text) + IGNORE INDEX hint strip'),
    ('dialect_date_formats_in', SCRIPT_DATE_FORMATS, 22, ['b', 'e1', 'e2'], False, 'DATE column IN over compact string literal and numeric zero-date leg'),
    ('dialect_date_formats_time_in', SCRIPT_DATE_FORMATS, 24, ['b', 'e1', 'e2'], False, 'TIME column compared numerically (colon-stripped) in IN lists'),
    ('dialect_issue975', SCRIPT_ISSUE975, -1, ['date', 'format', 'str_to_date'], False, 'verbatim issue regression: STR_TO_DATE time-only %-specs incl. .%f%p fractional-AM/PM combos over a utf8mb4_unicode_ci table'),
    ('dialect_show_databases', SCRIPT_SHOW_DB_TABLE, -1, None, False, 'SHOW DATABASES LIKE pattern over script-created databases (multi-db namespace)', None, {'show': 0}),
    ('dialect_show_tables_empty', SCRIPT_SHOW_DB_TABLE, -1, None, False, 'SHOW TABLES IN db on a freshly created empty database', None, {'show': 2}),
    ('dialect_show_tables_created', SCRIPT_SHOW_DB_TABLE, -1, None, False, 'SHOW TABLES IN db lists db-qualified creates; same-named t1/t2 live in TWO databases at once (flattened db__table registry)', None, {'show': 4}),
    ('dialect_show_tables_temp_excl', SCRIPT_SHOW_DB_TABLE, -1, None, False, 'SHOW TABLES excludes TEMPORARY tables; duplicate CREATE TEMPORARY raises 1050', None, {'show': 6}),
    ('dialect_alter_v1_crossdb_rename', SCRIPT_ALTER_V1_CROSSDB, 6, None, False, 'ALTER TABLE t1 RENAME otherdb.t1 errors 1050 when the target exists — source table survives untouched'),
    ('dialect_alter_v1_crossdb_target', SCRIPT_ALTER_V1_CROSSDB, 7, None, False, 'cross-db rename target table keeps its own rows after the failed rename'),
    ('dialect_ts_tz_display', SCRIPT_TYPE_TIMESTAMP_TZ, 0, ['a'], False, 'TIMESTAMP stores UTC: inserted at time_zone=-5:00, displayed at +1:00 (per-statement frozen session offset)'),
    ('dialect_ts_tz_redisplay', SCRIPT_TYPE_TIMESTAMP_TZ, 1, ['a'], False, 'same storage re-displayed after SET time_zone=-2:00'),
    ('dialect_ts_compact_literals', SCRIPT_TYPE_TIMESTAMP_TZ, 3, ['a'], False, 'numeric TIMESTAMP literals 19940101 / 940101010203 / T-separator normalize identically'),
    ('dialect_ts_tz_between', SCRIPT_TYPE_TIMESTAMP_TZ, 4, ['a', 'btw'], False, 'BETWEEN over a tz-shifted TIMESTAMP column against session-local literals'),
    ('dialect_ts_fn_battery', SCRIPT_TYPE_TIMESTAMP_FULL, 5, ['a', 'dn', 'dow', 'dfmt', 'mn', 'd2', 'yw', 'doy', 'y', 'addday', 'tsd', 'ld', 'trunc2', 'inlist', 'todays', 'day', 'wk', 'wd', 'gr', 'mon', 'q', 'adds'], False, '22-function battery over a tz-shifted TIMESTAMP: DAYNAME/DAYOFWEEK(ODBC 1=Sunday)/DATE_FORMAT %W %M/YEARWEEK/TO_DAYS(days since year 0)/TRUNCATE(ts,-2) compact-numeric/GREATEST vs string literal/IN self-list'),
    ('dialect_ts_unix_epoch', SCRIPT_TYPE_TIMESTAMP_FULL, 6, ['unixts', 'tts', 'ce', 'least_dt', 'rnd', 's', 'mi', 'h', 'fl'], False, 'UNIX_TIMESTAMP reads STORAGE (UTC) while TIME_TO_SEC/CEIL/ROUND/FLOOR/HOUR read the session-local display; LEAST vs string literal CAST AS DATETIME', {'ce': 'BIGINT', 'rnd': 'BIGINT', 'fl': 'BIGINT'}),
    ('dialect_ts_implicit_group', SCRIPT_TYPE_TIMESTAMP_FULL, 7, ['a', 'b', 's'], True, 'implicit single-group SUM with non-grouped TIMESTAMP select items (OFGB off representative)'),
    ('dialect_ts_groupby_minmax', SCRIPT_TYPE_TIMESTAMP_FULL, 10, ['a', 'mx', 'mn'], False, 'MIN/MAX over TIMESTAMP grouped by int after compact-numeric-literal inserts'),
    ('dialect_issue415', SCRIPT_ISSUE415F, -1, ['ag_column1', 'ag_column2', 'ag_column3', 'ag_column_fun'], False, 'GROUP BY items with ASC/DESC suffixes + MIN over a comparison flowing into HAVING <= 37 (0/1 int)'),
    ('dialect_issue475', SCRIPT_ISSUE475F, -1, ['addtime'], False, 'ADDTIME(date_col, fractional day-time delta) microsecond-exact over an expression'),
    ('dialect_issue429', SCRIPT_ISSUE429F, -1, None, False, 'TIMESTAMP(time_val[, time_val]) converts with the CURRENT date; 2-arg adds the delta (day-crossing row drops)'),
    ('dialect_issue845', SCRIPT_ISSUE845F, 0, None, False, 'compound EXTRACT units DAY_HOUR / MINUTE_SECOND positional-decimal composition'),
    ('dialect_issue848', SCRIPT_ISSUE848F, -1, None, False, 'ALTER TABLE DEFAULT CHARACTER SET gbk no-op + gbk-charset table roundtrip'),
    ('dialect_issue962', SCRIPT_ISSUE962F, -1, None, False, 'CONCAT_WS with numeric separator and operands (implicit string casts)'),
    ('dialect_issue995', SCRIPT_ISSUE995F, -1, ['tm'], False, "dashed zero-date '0-0-0' into DATETIME models as NULL beside ancient years"),
    ('dialect_issue502_2', SCRIPT_ISSUE502_2F, -1, None, False, 'INSERT ... ON DUPLICATE through a JOIN view: legal when every touched column lives in ONE base table; live-view oracle CTE refresh'),
    ('dialect_lz4_types', SCRIPT_LZ4F, 0, None, False, '17-type table under the lz4-compression comment battery: full typed round-trip', {'c_decimal': 'STRING'}),
    ('dialect_load_dates', SCRIPT_LOAD_DATESF, 0, ['a', 'b', 'c', 'd'], False, "LOAD DATA with relative '../../std_data' path: empty/zero/compact-digit DATE fields, \\N and literal-NULL words"),
    ('dialect_func_bit_dec17', SCRIPT_FUNC_BITF, 0, ['a', 'ba', 'bo', 'bx', 'shl2', 'shl0', 'shr1', 'bc'], False, 'bitwise & | ^ << >> and BIT_COUNT over DECIMAL(17,0) incl. negatives as two\'s-complement u64', {'a': 'STRING', 'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl2': 'STRING', 'shl0': 'STRING', 'shr1': 'STRING'}),
    ('dialect_func_bit_dec10_1', SCRIPT_FUNC_BITF, 1, ['a', 'ba', 'bo', 'bx', 'shl2', 'shr2', 'bc'], False, 'bitwise ops over DECIMAL(10,1): fractional operands round half-away (3.5 to 4) before u64 conversion', {'a': 'STRING', 'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl2': 'STRING', 'shr2': 'STRING'}),
    ('dialect_func_bit_dec10_0', SCRIPT_FUNC_BITF, 2, ['a', 'ba', 'bo', 'bx', 'shl2', 'shl0', 'shr1', 'bc'], False, 'bitwise ops over DECIMAL(10,0) incl. -9999999999 two\'s-complement', {'a': 'STRING', 'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl2': 'STRING', 'shl0': 'STRING', 'shr1': 'STRING'}),
    ('dialect_func_bit_double', SCRIPT_FUNC_BITF, 3, ['a', 'ba', 'bo', 'bx', 'shl2', 'shl0', 'shr1', 'bc'], False, 'bitwise ops over DOUBLE: 10e30 saturates at LLONG_MAX like tianmu val_int', {'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl2': 'STRING', 'shl0': 'STRING', 'shr1': 'STRING'}),
    ('dialect_func_bit_varshift', SCRIPT_FUNC_BITF, 4, ['a', 'shl', 'shr'], False, '1<<a / 1>>a with column shift counts: 63 hits the sign bit, >=64 yields 0 (Java masks, MySQL does not)', {'shl': 'STRING', 'shr': 'STRING'}),
    ('dialect_func_bit_where_sel', SCRIPT_FUNC_BITF, 5, ['a', 'bo', 'ba'], False, 'a|4 and a&4 select items over DECIMAL(18,2)', {'a': 'STRING', 'bo': 'STRING', 'ba': 'STRING'}),
    ('dialect_func_bit_where_or', SCRIPT_FUNC_BITF, 6, ['a'], False, 'WHERE (a|4) <> a: bitwise result compared against the decimal column', {'a': 'STRING'}),
    ('dialect_func_bit_where_and', SCRIPT_FUNC_BITF, 7, ['a'], False, 'WHERE (a&4) <> a bitwise predicate', {'a': 'STRING'}),
    ('dialect_issue301_truthy_or', SCRIPT_ISSUE301F, 5, ['a', 'b'], False, 'WHERE b>2 or 1: bare numeric truthy leaf in an OR tree'),
    ('dialect_issue301_strnum', SCRIPT_ISSUE301F, 7, ['a', 'b'], False, "WHERE (1 > '1.1') or b>2: string literal compared numerically"),
    ('dialect_issue301_nullsafe', SCRIPT_ISSUE301F, 37, ['id1', 'value1', 'id2', 'value2', 'nse'], False, 'NULL-safe <=> as a select item over a comma join with NULL values'),
    ('dialect_issue301_fardate', SCRIPT_ISSUE301F, 41, ['created_at', 'title'], False, 'year-1000/9999 DATETIME rows through an always-true OR predicate', {'created_at': 'STRING'}),
    ('dialect_issue301_emptystr', SCRIPT_ISSUE301F, 51, ['name'], False, "WHERE 1 = 1 and name != '': empty-string VARCHAR predicates"),
    ('dialect_issue301_corrmax', SCRIPT_ISSUE301F, 55, ['c1', 'c2', 'c3'], False, 'correlated scalar MAX subquery per TINYINT battery'),
    ('dialect_issue301_notexists', SCRIPT_ISSUE301F, 77, ['t1_int', 't1_char'], False, 'NOT EXISTS anti-join leg of the EXISTS battery'),
    ('dialect_issue1173_timebits', SCRIPT_ISSUE1173F, 0, ['a', 'ba', 'bo', 'bx', 'shl1', 'shl0', 'shr1', 'bc'], False, "bitwise ops over TIME(1): '00:00:02.9' reads 2.9 and rounds to 3", {'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl1': 'STRING', 'shl0': 'STRING', 'shr1': 'STRING'}),
    ('dialect_issue1173_dtbits', SCRIPT_ISSUE1173F, 1, ['a', 'ba', 'bo', 'bx', 'shl1', 'shl0', 'shr1', 'bc'], False, 'bitwise ops over DATETIME(1): fractional seconds round the temporal before the compact u64 read; year-9999 row renders as text', {'a': 'STRING', 'ba': 'STRING', 'bo': 'STRING', 'bx': 'STRING', 'shl1': 'STRING', 'shl0': 'STRING', 'shr1': 'STRING'}),
    ('dialect_bit_v5', SCRIPT_BITF, 5, ['v'], False, "0 + b'000000' scalar bit-literal battery leg"),
    ('dialect_bit_literal_63bit', SCRIPT_BITF, 12, ['h'], False, '63-bit b-literal multi-line INSERT readback via HEX'),
    ('dialect_bit_range_preds', SCRIPT_BITF, 16, ['a', 'b'], False, 'BIT(7)/BIT(9) range predicates with ORDER BY position'),
    ('dialect_bit_minmax_hex', SCRIPT_BITF, 20, ['mna', 'mxa', 'mnb', 'mxb'], False, 'HEX(MIN/MAX) over BIT columns'),
    ('dialect_bit_pk_filter', SCRIPT_BITF, 27, ['a', 'b', 'c'], False, 'point filter a=4 AND b=1 AND c=100 over BIT cols'),
    ('dialect_bit_concat_update', SCRIPT_BITF, 30, ['a', 'b'], False, 'UPDATE SET b=concat(a): BIT through its byte-string form round-trips'),
    ('dialect_bit_shift_expr_insert', SCRIPT_BITF, 31, ['ha', 'hb'], False, '(1<<12)-2 shift arithmetic INSERT + HEX readback'),
    ('dialect_bit_view_union', SCRIPT_BITF, 34, ['b1', 'b2'], False, 'view over UNION of comma joins filtered on BIT values'),
    ('dialect_bit_bin_oct', SCRIPT_BITF, 42, ['hb', 'bb', 'ob', 'hn', 'bn', 'on'], False, 'HEX/BIN/OCT over BIT vs INT incl. NULL rows'),
    ('dialect_bit_conv_col', SCRIPT_BITF, 45, ['c1', 'c2'], False, 'CONV(bit, 10, 2) with and without +0'),
    ('dialect_bit_ignore_strings', SCRIPT_BITF, 46, ['h', 'b'], False, "INSERT IGNORE strings into BIT(1)/smallint: '1' reads byte 49, clamps to 1"),
    ('dialect_bit_true_pred', SCRIPT_BITF, 51, ['h', 'i2'], False, 'WHERE b=TRUE over BIT NOT NULL with range predicate'),
    ('dialect_bit_bit_defaults', SCRIPT_BITF, 55, ['h1', 'h2'], False, "DEFAULT b'10' fill + b'' zero-length inserts via HEX"),
    ('dialect_bit_join_buffer15', SCRIPT_BITF, 57, ['b1'], False, 'join buffering over BIT(15) equality keys'),
    ('dialect_bit_sum_groupby', SCRIPT_BITF, 62, ['s'], True, 'SUM(a) GROUP BY bit-NOT-NULL keys with all-NULL ints'),
    ('dialect_bit_empty_bits', SCRIPT_BITF, 64, ['b'], False, "INSERT b'' reads as 0 (bin readback)"),
    ('dialect_obit_concat_or', SCRIPT_OTHER_BITF, 2, ['v', 'b', 'concat'], False, '(v || b) is logical OR with numeric truthiness under PIPES_AS_CONCAT off'),
    ('dialect_obit_position_bytes', SCRIPT_OTHER_BITF, 12, ['p'], False, 'POSITION over multi-byte bit-string literals (big-endian byte semantics)'),
    ('dialect_obit_shift1', SCRIPT_OTHER_BITF, 43, ['b', 'bsr', 'bsl'], False, 'BIT(16) column >>1/<<1 with ORDER BY on the shifted alias', {'bsr': 'STRING', 'bsl': 'STRING'}),
    ('dialect_obit_shift8', SCRIPT_OTHER_BITF, 44, ['b', 'bsr8', 'bsl8'], False, 'BIT(16) column >>8/<<8 built from INSERT..SELECT shift chains', {'bsr8': 'STRING', 'bsl8': 'STRING'}),
    ('dialect_obit_cast_dec32_shl', SCRIPT_OTHER_BITF, 47, ['c1'], False, 'CAST(CAST(u64max AS UNSIGNED) AS DECIMAL(32))<<0 keeps the u64 bit pattern', {'c1': 'STRING'}),
    ('dialect_obit_xor_dec_sat', SCRIPT_OTHER_BITF, 49, ['c1'], False, 'u64max.0 ^ 1: DECIMAL literal saturates at LLONG_MAX like tianmu val_int', {'c1': 'STRING'}),
    ('dialect_obit_and_mixed', SCRIPT_OTHER_BITF, 58, ['c1'], False, 'double & decimal operand mix: both saturate before the AND', {'c1': 'STRING'}),
    ('dialect_obit_not_dec', SCRIPT_OTHER_BITF, 67, ['c1'], False, '~u64max.0 = 2^63 (saturated LLONG_MAX negated)', {'c1': 'STRING'}),
    ('dialect_obit_bc_u64', SCRIPT_OTHER_BITF, 69, ['c1'], False, 'BIT_COUNT(u64max) = 64: integer literal keeps the u64 pattern'),
    ('dialect_obit_bc_dec', SCRIPT_OTHER_BITF, 70, ['c1'], False, 'BIT_COUNT(u64max.0) = 63: decimal literal saturates first'),
    ('dialect_obit_bc_dbl', SCRIPT_OTHER_BITF, 74, ['c1'], False, 'BIT_COUNT(-2^63 e0) = 1 via double saturation'),
    ('dialect_i464_date_year_null', SCRIPT_ISSUE464F, 3, ['d'], False, 'DATE(year_col) is NULL: 4-digit numerics are not compact dates', {'d': 'STRING'}),
    ('dialect_i464_addtime_cols', SCRIPT_ISSUE464F, 5, ['t1', 't2'], False, 'ADDTIME(time_col, time_col) string arithmetic + 200-hour literal delta over DATETIME'),
    ('dialect_i464_daysecond_add', SCRIPT_ISSUE464F, 9, ['d'], False, "DATE_ADD(ts, INTERVAL '12 10:11:12' DAY_SECOND) composite interval"),
    ('dialect_i464_daysecond_sub_date', SCRIPT_ISSUE464F, 13, ['d'], False, "DATE_SUB(date, INTERVAL '13 20:20:20' DAY_SECOND) crosses day boundaries"),
    ('dialect_i464_from_unixtime', SCRIPT_ISSUE464F, 22, ['a', 'b', 'c'], False, 'FROM_UNIXTIME(UNIX_TIMESTAMP(x)) round-trips date/datetime/timestamp'),
    ('dialect_i464_time_fn', SCRIPT_ISSUE464F, 24, ['a', 'b', 'c', 'd'], False, 'TIME() extraction over all four temporal column kinds'),
    ('dialect_i464_timetosec_todays', SCRIPT_ISSUE464F, 28, ['s', 'td'], False, 'TIME_TO_SEC over a TIME string column + TO_DAYS'),
    ('dialect_i464_toseconds', SCRIPT_ISSUE464F, 29, ['s1', 's2'], False, 'TO_SECONDS: seconds since year 0 for date and datetime'),
    ('dialect_adddate_scalar_days', SCRIPT_ADDDATEF, 0, ['d'], False, 'ADDDATE(datetime-string, 1) keeps the time of day (+1 DAY, not a DATE truncation)'),
    ('dialect_adddate_scalar_negsec', SCRIPT_ADDDATEF, 4, ['d'], False, 'ADDDATE(x, INTERVAL -1 SECOND) negative interval'),
    ('dialect_adddate_col_days', SCRIPT_ADDDATEF, 5, ['c', 'd'], False, 'ADDDATE(datetime_col, 1) over year-1212/1313 rows (beyond pandas ns range, rendered as text)', {'c': 'STRING', 'd': 'STRING'}),
    ('dialect_adddate_col_negdays', SCRIPT_ADDDATEF, 6, ['c', 'd'], False, 'ADDDATE(col, -2) negative day count over far-past datetimes', {'c': 'STRING', 'd': 'STRING'}),
    ('dialect_adddate_col_neghour', SCRIPT_ADDDATEF, 7, ['c', 'd'], False, 'ADDDATE(col, INTERVAL -1 HOUR) crossing midnight on far-past rows', {'c': 'STRING', 'd': 'STRING'}),
    ('dialect_issue663_selfdup', SCRIPT_ISSUE663F, 0, ['a1', 'b1', 'a2', 'b2'], False, 'comma self-join over duplicated keys (t11/t12 from the same feed)'),
    ('dialect_issue663_skus', SCRIPT_ISSUE663F, 8, ['sku2', 'sppr', 'name', 'sku1', 'pr'], False, 'two-sided sku range predicates across a comma join'),
    ('dialect_issue906_in_count', SCRIPT_ISSUE906F, 0, ['article', 'dealer', 'price'], False, 'IN (SELECT COUNT(*) … GROUP BY) subquery per reference shop battery', {'price': 'STRING'}),
    ('dialect_issue906_notin_count', SCRIPT_ISSUE906F, 1, ['article', 'dealer', 'price'], False, 'NOT IN over a grouped COUNT subquery', {'price': 'STRING'}),
    ('dialect_issue906_in_count_gb2', SCRIPT_ISSUE906F, 3, ['article', 'dealer', 'price'], False, 'IN over COUNT(*) grouped by a second key', {'price': 'STRING'}),
    ('dialect_issue998_union_ic', SCRIPT_ISSUE998F, 0, ['u'], False, 'int UNION char: MySQL unifies to string (Spark ANSI would coerce the other way)'),
    ('dialect_issue998_union_ci', SCRIPT_ISSUE998F, 5, ['u'], False, 'char UNION int branch order flipped'),
    ('dialect_issue998_union_tail', SCRIPT_ISSUE998F, 11, ['u'], False, 'last battery leg after repeated drops/recreates'),
    ('dialect_issue887_nested_left', SCRIPT_ISSUE887F, 1, ['a1', 'a2', 'a3'], False, 'nested LEFT JOIN double-ON binding (inner t2-t3 join first) with IS NULL WHERE'),
    ('dialect_issue887_nested_right', SCRIPT_ISSUE887F, 3, ['a1', 'a2', 'a3'], False, 'nested RIGHT JOIN double-ON with IS NULL WHERE'),
    ('dialect_issue887_inner_bare', SCRIPT_ISSUE887F, 5, ['a1', 'a2', 'a3'], False, 'INNER JOIN chain with no ON = cross product, filtered IS NULL'),
    ('dialect_issue887_cross_where', SCRIPT_ISSUE887F, 8, ['a1', 'a2', 'a3'], False, 'CROSS JOIN chain with IS NOT NULL WHERE'),
    ('dialect_issue887_inner_on_null', SCRIPT_ISSUE887F, 13, ['a1', 'a2', 'a3'], False, 'INNER JOIN chain whose single ON carries only IS NULL (binds to the nearest join)'),
    ('dialect_issue887_cross_on', SCRIPT_ISSUE887F, 16, ['a1', 'a2', 'a3'], False, 'CROSS JOIN with an ON clause (MySQL treats it as INNER)'),
    ('dialect_issue887_on_and_null', SCRIPT_ISSUE887F, 18, ['a1', 'a2', 'a3'], False, 'double-ON where the outer condition mixes equality AND IS NOT NULL'),
    ('dialect_issue887_comma_or', SCRIPT_ISSUE887F, 23, ['a1', 'a2', 'a3'], False, 'comma join with OR-of-IS-NULL predicates across all three tables'),
    ('dialect_issue959_str_eq', SCRIPT_ISSUE959F, 2, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, "string = string compare stays exact ('…587' matches nothing)"),
    ('dialect_issue959_char', SCRIPT_ISSUE959F, 10, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, 'pure-char equality over junk-numeric rows'),
    ('dialect_issue959_bigint_dbl', SCRIPT_ISSUE959F, 14, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, 'string col = huge int literal compares as DOUBLE: …585 matches …587 (MySQL double coercion)'),
    ('dialect_issue959_signed_float', SCRIPT_ISSUE959F, 17, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, "deviceId = +15.9: lenient prefix read ('15.9.' and '+15.9' rows match)"),
    ('dialect_issue959_negzero', SCRIPT_ISSUE959F, 23, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, "deviceId = -0: 'abcd'/'0'/'+0'/'-0' all read 0.0"),
    ('dialect_issue959_between_num', SCRIPT_ISSUE959F, 27, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, 'numeric BETWEEN over a string column via the double read'),
    ('dialect_issue959_between_str', SCRIPT_ISSUE959F, 31, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, 'string BETWEEN keeps lexicographic semantics'),
    ('dialect_issue959_notbetween', SCRIPT_ISSUE959F, 34, ['reporttime', 'deviceid', 'multiple', 'deltajgs'], False, 'NOT BETWEEN with signed numeric bounds'),
    ('dialect_issue829_dt_in', SCRIPT_ISSUE829F, 0, ['t1_tinyint', 't1_int', 't1_bigint', 't1_decimal', 't1_text', 't1_char', 't1_varchar', 't1_datetime'], False, 'year-1111 DATETIME IN-list over DEFAULT-filled rows', {'t1_decimal': 'STRING', 't1_datetime': 'STRING'}),
    ('dialect_issue829_dt_lt', SCRIPT_ISSUE829F, 3, ['t1_tinyint', 't1_int', 't1_bigint', 't1_decimal', 't1_text', 't1_char', 't1_varchar', 't1_datetime'], False, '< over far-past datetimes incl. NULL rows', {'t1_decimal': 'STRING', 't1_datetime': 'STRING'}),
    ('dialect_issue829_dt_t2', SCRIPT_ISSUE829F, 6, ['t1_tinyint', 't1_int', 't1_bigint', 't1_decimal', 't1_text', 't1_char', 't1_varchar', 't1_datetime'], False, "second table's IN over a disjoint far-date set", {'t1_decimal': 'STRING', 't1_datetime': 'STRING'}),
    ('dialect_issue829_join_in', SCRIPT_ISSUE829F, 7, ['a1', 'a2', 'a3', 'a4', 'a5', 'a6', 'a7', 'a8', 'b1', 'b2', 'b3', 'b4', 'b5', 'b6', 'b7', 'b8'], False, 'comma join of both tables filtered by far-date IN lists on each side', {'a4': 'STRING', 'a8': 'STRING', 'b4': 'STRING', 'b8': 'STRING'}),
    ('dialect_issue985_show0', SCRIPT_ISSUE985F, 0, None, False, 'SHOW CREATE TABLE with utf8mb4 table collation before comments', None, {'show': 0}),
    ('dialect_issue985_show_comment', SCRIPT_ISSUE985F, 0, None, False, "SHOW CREATE TABLE renders COMMENT='abcd' after ALTER TABLE COMMENT", None, {'show': 1}),
    ('dialect_issue985_show_utf8c', SCRIPT_ISSUE985F, 0, None, False, 'ALTER COMMENT with CJK text round-trips through SHOW CREATE', None, {'show': 2}),
    ('dialect_drop_column_show', SCRIPT_DROP_COLUMNF, 0, None, False, '17-type table after DROP COLUMN c_char: 16-column MySQL DDL render', None, {'show': 0}),
    ('dialect_issue1131_show0', SCRIPT_ISSUE1131F, 0, None, False, 'ADD COLUMN then SHOW CREATE over the growing column list', None, {'show': 0}),
    ('dialect_issue1131_show_mid', SCRIPT_ISSUE1131F, 0, None, False, 'mid-battery SHOW CREATE after repeated add/drop column cycles', None, {'show': 7}),
    ('dialect_issue1131_show_final', SCRIPT_ISSUE1131F, 0, None, False, 'final SHOW CREATE of the add/drop column battery', None, {'show': 15}),
    ('dialect_create_index_dup', SCRIPT_CREATE_INDEXF, 0, ['probe'], False, 'CREATE UNIQUE INDEX over duplicate rows raises ER_DUP_ENTRY (innodb prefix index); appended probe select documents completion'),
    ('dialect_uf_select_into', SCRIPT_USER_FUNCF, 0, ['v'], False, 'stored function: DECLARE defaults, multi-SET, SELECT…INTO keeping prior values on empty result ((27+23)*(1+1)=100)'),
    ('dialect_uf_if_elseif', SCRIPT_USER_FUNCF, 1, ['v'], False, 'stored function IF/ELSEIF/ELSE chain over the argument'),
    ('dialect_uf_if_lt', SCRIPT_USER_FUNCF, 2, ['v'], False, 'SimpleCompare(1,6): IF branches + CONCAT rebuild'),
    ('dialect_uf_if_eq', SCRIPT_USER_FUNCF, 3, ['v'], False, 'SimpleCompare(6,6): the = branch'),
    ('dialect_uf_nested_if', SCRIPT_USER_FUNCF, 4, ['v'], False, 'VerboseCompare: nested IF inside ELSE with post-merge SET'),
    ('dialect_uf_while', SCRIPT_USER_FUNCF, 5, ['v'], False, 'getSum(10): WHILE loop unrolled against the bound argument (=55)'),
    ('dialect_uf_case_ret2', SCRIPT_USER_FUNCF, 6, ['v'], False, 'CASE statement whose arms RETURN: falls to the ELSE BEGIN block'),
    ('dialect_uf_case_ret5', SCRIPT_USER_FUNCF, 7, ['v'], False, 'CASE…WHEN no match: nested BEGIN return arm'),
    ('dialect_uf_case_ret_eq', SCRIPT_USER_FUNCF, 8, ['v'], False, 'CASE…WHEN 2 matches: returns the variable'),
    ('dialect_uf_case_expr', SCRIPT_USER_FUNCF, 9, ['v'], False, 'RETURN (CASE expression) stays an expression, not a CASE statement'),
    ('dialect_uf_case_expr2', SCRIPT_USER_FUNCF, 10, ['v'], False, 'CASE expression WHEN-5 arm over FLOOR(mark/10)'),
    ('dialect_uf_identity', SCRIPT_USER_FUNCF, 12, ['v'], False, 'trivial BEGIN return arg END body'),
    ('dialect_fdef_scalar_sub', SCRIPT_FUNC_DEFINEF, 0, ['v'], False, 'CREATE FUNCTION returning a scalar subquery; arity 1318, >1-row 1242 and >1-column 1241 legs enforced inline'),
    ('dialect_fdef_lookup300', SCRIPT_FUNC_DEFINEF, 1, ['v'], False, 'subquery-lookup function over another key'),
    ('dialect_fdef_miss', SCRIPT_FUNC_DEFINEF, 2, ['v'], False, 'lookup miss returns NULL'),
    ('dialect_fdef_attrs', SCRIPT_FUNC_DEFINEF, 3, ['v'], False, 'CREATE FUNCTION with LANGUAGE SQL/DETERMINISTIC/SQL SECURITY DEFINER attribute soup and BEGIN RETURN body'),
    ('dialect_issue566_view_rev', SCRIPT_ISSUE566F, 0, ['supplier_no', 'total_revenue'], False, 'TPC-H-style revenue view whose WHERE uses DATE_ADD with a composite DAY_SECOND interval', {'total_revenue': 'STRING'}),
    ('dialect_issue422_procgen', SCRIPT_ISSUE422F, 0, ['s', 'name'], True, 'stored procedure with IN arg + IF/ELSEIF/ELSE inside WHILE: 3000-row generator, grouped sums'),
    ('dialect_issue422_minjoin', SCRIPT_ISSUE422F, 2, ['userid', 'm'], False, 'MIN over a comma join keyed by the generated rows'),
    ('dialect_issue422_groupint', SCRIPT_ISSUE422F, 10, ['n'], False, 'COUNT(*) GROUP BY over the typed battery table'),
    ('dialect_issue422_joincount', SCRIPT_ISSUE422F, 30, ['n'], False, 'grouped join count after procedural reloads'),
    ('dialect_issue422_rightsum', SCRIPT_ISSUE422F, 79, ['s'], False, 'SUM over RIGHT JOIN tail of the battery'),
    ('dialect_issue222_dollar', SCRIPT_ISSUE222F, 0, ['a1', 'b', 'c'], False, 'dollar-sign identifiers ($tt table; a$1/$b/c$ columns) quoted at statement entry'),
    ('dialect_issue228_ctas_lit', SCRIPT_ISSUE228F, 0, ['a'], False, 'CREATE TABLE (cols+PK) SELECT literal-as-alias with no FROM'),
    ('dialect_issue362_utf8name', SCRIPT_ISSUE362F, 0, ['i'], False, 'non-ASCII table name via physical-name mapping; backticked and bare refs both resolve'),
    ('dialect_issue362_utf8bare', SCRIPT_ISSUE362F, 1, ['i'], False, 'bare (unquoted) non-ASCII table reference'),
    ('dialect_create_table_val', SCRIPT_CREATE_TABLEF, 0, ['a'], False, 'CREATE validation battery: char(0) 1048, duplicate 1050, `a/a` + LIKE, 64-char 1059, DEFAULT 1067 legs (incl. via ALTER SET DEFAULT)'),
    ('dialect_trg_sum_var', SCRIPT_TRIGGERF, 0, ['t'], False, 'BEFORE INSERT trigger accumulating @sum over a 3-row multi-tuple INSERT (1852.48)', {'t': 'STRING'}),
    ('dialect_trg_fire_flag', SCRIPT_TRIGGERF, 2, ['a'], False, 'trigger sets @a only when an INSERT actually fires'),
    ('dialect_trg_read_new', SCRIPT_TRIGGERF, 3, ['a'], False, 'trigger reads NEW.i into a user variable'),
    ('dialect_trg_concat_agg', SCRIPT_TRIGGERF, 4, ['a'], False, "AFTER INSERT aggregation via IF(@a, CONCAT(@a, ':', NEW.i), NEW.i) = '2:3:4:5'"),
    ('dialect_trg_other_table', SCRIPT_TRIGGERF, 6, ['event'], False, 'AFTER INSERT trigger writing a CONCAT event row into another table per inserted row'),
    ('dialect_issue364_copy_trg', SCRIPT_ISSUE364F, 0, ['id'], False, 'AFTER INSERT trigger copying NEW.* into a second table (verbatim issue364)'),
    ('dialect_issue669_notin_del', SCRIPT_ISSUE669F, 0, ['a', 'b'], False, 'DELETE with a correlated NOT IN subquery over another table (appended probe reads the post-delete state)'),
    ('dialect_issue656_load_ts', SCRIPT_ISSUE656F, 0, ['id', 't'], False, 'LOAD DATA LOCAL of nullable timestamps from the committed issue656 fixture (appended probe select)', {'t': 'STRING'}),
    ('dialect_issue487_mysql50', SCRIPT_ISSUE487F, 0, ['probe'], False, 'CREATE TABLE `#mysql50#q.q` refuses with the 1030 storage-engine analog (error leg enforced; documented probe select)'),
    ('dialect_issue226_ctas_union', SCRIPT_ISSUE226F, 0, ['f2'], False, 'CTAS from a UNION of LEFT() projections over an empty utf8 table, then direct inserts'),
    ('dialect_issue271_esc_star', SCRIPT_ISSUE271F, 0, ['a'], False, "LIKE ... ESCAPE '*' custom escape char under sql_mode='' (saved/restored via @@SQL_MODE round-trip)"),
    ('dialect_issue271_esc_empty', SCRIPT_ISSUE271F, 2, ['a'], False, "LIKE ESCAPE '' disables escaping"),
    ('dialect_issue271_esc_bs', SCRIPT_ISSUE271F, 12, ['a'], False, "LIKE 'hakan\\\\%' ESCAPE '\\\\\\\\' after the NO_BACKSLASH_ESCAPES leg"),
    ('dialect_issue271_esc_pct', SCRIPT_ISSUE271F, 25, ['a'], False, "ESCAPE '%' makes the percent literal mid-battery"),
    ('dialect_issue271_esc_tail', SCRIPT_ISSUE271F, 35, ['a'], False, 'final escape battery leg after repeated sql_mode flips'),
    ('dialect_trg_upd_fired', SCRIPT_TRIGGER2F, 2, ['fired'], False, 'AFTER UPDATE trigger IF(new.j = -1) sets @fired over a statement-level EXISTS fold'),
    ('dialect_trg_upd_rows', SCRIPT_TRIGGER2F, 3, ['i', 'j'], False, 'BEFORE UPDATE SET NEW.j := -1 under IF(old.i % 2 = 0) folded into the UPDATE as a CASE assignment'),
    ('dialect_trg_ignore_log', SCRIPT_TRIGGER2F, 5, ['log'], False, 'INSERT IGNORE duplicate: BEFORE INSERT fires, AFTER INSERT suppressed via pre-insert PK probe'),
    ('dialect_trg_ondup_log', SCRIPT_TRIGGER2F, 6, ['log'], False, 'INSERT..ON DUPLICATE KEY UPDATE fires BEFORE/AFTER UPDATE on the dup row and INSERT triggers on the new row, OLD.* via PK scalar subqueries'),
    ('dialect_trg_err_specifiers', SCRIPT_TRG_ERRF, 0, ['x1col'], False, 'trigger validation battery: 1363/1362/1054 wrong-specifier legs, 1146/1359/1360 existence legs, 1347 view, 1361 temp table'),
    ('dialect_trg_drop_scope', SCRIPT_TRG_DBF, 0, ['a'], False, 'DROP TABLE/DATABASE drop their triggers; 1435 cross-db and 1146 wrong-db creation legs'),
    ('dialect_trg_multiupd_vars', SCRIPT_TRG_MULTIF, 1, ['a', 'b'], False, 'multi-table UPDATE fires per-target-row UPDATE triggers: accumulator + flag via EXISTS-join fold'),
    ('dialect_trg_multidel_vars', SCRIPT_TRG_MULTIF, 2, ['c', 'd', 'e', 'f'], False, 'multi-table DELETE fires both tables DELETE triggers with OLD.* aggregate folds'),
    ('dialect_trg_inssel_rows', SCRIPT_TRG_INSSELF, 0, ['i', 'j'], False, 'INSERT..SELECT activates BEFORE INSERT trigger: IF(new.i=1) fold into the projected SELECT'),
    ('dialect_trg_inssel_flag', SCRIPT_TRG_INSSELF, 1, ['a'], False, 'AFTER INSERT flag over INSERT..SELECT via EXISTS on the source'),
    ('dialect_trg_upd_accum', SCRIPT_TRG_BUGSF, 0, ['total_change'], False, 'bug569: AFTER UPDATE accumulator @t += new.i - old.i as one SUM over the affected set'),
    ('dialect_trg_del_sum', SCRIPT_TRG_BUGSF, 1, ['del_sum'], False, 'bug570: BEFORE DELETE accumulator over OLD.i'),
    ('dialect_trg_del_flag', SCRIPT_TRG_BUGSF, 2, ['del'], False, 'bug571: AFTER DELETE flag via EXISTS over the matched set'),
    ('dialect_trg_cascade', SCRIPT_TRG_BUGSF, 3, ['id1', 'fk_t2', 'id2', 'fk_t3', 'id3'], False, 'bug580: cascading AFTER DELETE triggers (FK-cascade emulation) with pre-state-preserving emission order'),
    ('dialect_issue581_ins', SCRIPT_ISSUE581F, 2, ['id', 'copy'], False, 'BEFORE INSERT SET NEW.copy = scalar subquery over another table (verbatim issue581)'),
    ('dialect_issue581_upd_noop', SCRIPT_ISSUE581F, 4, ['id', 'copy'], False, 'BEFORE UPDATE trigger overrides the SET with a correlated subquery - visible no-op on the matched row'),
    ('dialect_issue581_upd_miss', SCRIPT_ISSUE581F, 6, ['id', 'copy'], False, 'UPDATE on the row whose subquery lookup misses keeps NULL'),
    ('dialect_issue1318_audit', SCRIPT_ISSUE1318F, 0, ['probe'], False, 'index DDL battery + audit UPDATE trigger registered (never fired; documented probe select)'),
    ('dialect_issue1599_union_str', SCRIPT_ISSUE1599F, 0, ['c1'], False, "int-UNION-'aaa' from an empty derived branch unifies to STRING (MySQL rule) on both engines"),
    ('dialect_issue1599_union_int', SCRIPT_ISSUE1599F, 2, ['c1'], False, 'int-UNION-int-literal keeps the numeric type', {'c1': 'BIGINT'}),
    ('dialect_issue1599_dec_str', SCRIPT_ISSUE1599F, 6, ['c1'], False, "DECIMAL(18,0)-UNION-'aaa' renders the decimals as text"),
    ('dialect_issue1599_dec_int', SCRIPT_ISSUE1599F, 7, ['c1'], False, 'DECIMAL(18,0)-UNION-111 stays numeric', {'c1': 'BIGINT'}),
    ('dialect_issue1808_ordered', SCRIPT_ISSUE1808F, 0, ['c1'], False, 'UNION ALL string branch over 3e15-scale decimals with ORDER BY over the unified strings'),
    ('dialect_issue1860_union_dual', SCRIPT_ISSUE1860F, 2, ['id'], False, 'SELECT … FROM dual union branch (dual drops to a FROM-less SELECT)', {'id': 'BIGINT'}),
    ('dialect_issue1860_dt_str', SCRIPT_ISSUE1860F, 5, ['id', 'dt'], False, "datetime-UNION-string unifies to STRING: dt renders full, the literal stays '2022-01-01'", {'id': 'BIGINT'}),
    ('dialect_issue1860_dt_std', SCRIPT_ISSUE1860F, 7, ['id', 'dt'], False, 'datetime-UNION-str_to_date keeps the date-only text distinct from the datetime render (3 rows)', {'id': 'BIGINT'}),
    ('dialect_issue1860_dt_only', SCRIPT_ISSUE1860F, 8, ['dt'], False, "datetime-UNION-'2222' after the 1105 number-leg errors (error legs enforced inline)"),
    ('dialect_drop_restrict', SCRIPT_DROP_RESTRICF, 1, ['cnt'], False, 'DROP TABLE … RESTRICT still drops; the second DROP raises the 1051 analog'),
    ('dialect_issue1251_version', SCRIPT_ISSUE1251F, 0, ['v'], False, 'VERSION() reports the 5.7.36-StoneDB-vX.Y.Z shape (regexp OR probe)'),
    ('dialect_issue1848_gconcat', SCRIPT_ISSUE1848F, 0, ['g'], False, 'GROUP_CONCAT without ORDER BY canonicalized to sorted-by-expression on both engines (storage-order delta documented)'),
    ('dialect_uf_pinyin_gbk', SCRIPT_USER_FUNCTION_FULL, 6, ['p'], False, "PINYIN gbk byte loop: HEX(gbk literal) + ASCII(UNHEX(..)) python-folded, per-char pinyin table lookups as scalar subqueries ('ceshi')"),
    ('dialect_uf_pinyin_gbk3', SCRIPT_USER_FUNCTION_FULL, 7, ['p'], False, "PINYIN over a 3-hanzi name ('shiyuanzi')"),
    ('dialect_uf_tohanzi', SCRIPT_USER_FUNCTION_FULL, 14, ['h'], False, 'tohanzi money-to-hanzi: ROUND(DECIMAL,2) scale extension + DuckDB constant-folded loop values + 18 REPLACE normalizations'),
    ('dialect_uf_loop_leave', SCRIPT_USER_FUNCTION_FULL, 15, ['v'], False, 'labeled LOOP with LEAVE unrolled concretely'),
    ('dialect_uf_while_leave', SCRIPT_USER_FUNCTION_FULL, 16, ['v'], False, 'LEAVE from a nested WHILE out of the labeled outer loop'),
    ('dialect_uf_while_iterate', SCRIPT_USER_FUNCTION_FULL, 17, ['v'], False, 'ITERATE re-entering the labeled outer WHILE'),
    ('dialect_uf_idcard', SCRIPT_USER_FUNCTION_FULL, 19, ['ok'], False, 'is_id_card REGEXP + BETWEEN string/number coercion battery'),
    ('dialect_issue538_fn_proj', SCRIPT_ISSUE538F, 0, ['employee_id', 'd'], False, 'stored function (scalar subquery) projected over a LEFT JOIN (verbatim issue538)'),
    ('dialect_issue538_fn_on', SCRIPT_ISSUE538F, 2, ['employee_id', 'd'], False, 'function in JOIN ON position decorrelated by pre-materializing it as a projected column of the joined relation'),
    ('dialect_issue538_fn_agg', SCRIPT_ISSUE538F, 1, ['s'], False, 'SUM over a function of the outer-joined side', {'s': 'DOUBLE'}),
    ('dialect_issue538_fn_derived', SCRIPT_ISSUE538F, 8, ['d', 'employee_salary'], False, 'function inside nested derived tables; the inlined body aliases its own FROM so argument qualifiers are not captured'),
    ('dialect_issue538_fn_joinparen', SCRIPT_ISSUE538F, 12, ['employee_id'], False, 'MySQL parenthesized joined-table operand JOIN ((SELECT ..) AS ta) peeled for the oracle'),
    ('dialect_issue850_export', SCRIPT_ISSUE850F, 0, ['probe'], False, 'SSB-style 4-table load + join export INTO OUTFILE verified byte-per-line against the committed issue850_out.txt via the MTR --diff_files analog (sorted-line normalization; documented probe select)'),
    ('dialect_issue1855_sumlen', SCRIPT_ISSUE1855F, 0, ['s'], True, 'SUM(LENGTH(varchar)) over mixed-width rows (issue1855 excerpt)'),
    ('dialect_issue1855_sumdiv', SCRIPT_ISSUE1855F, 1, ['s'], False, 'SUM(LENGTH(x)/2) keeps the fractional type'),
    ('dialect_issue1332_btw_min', SCRIPT_ISSUE1332F, 5, ['a', 'b', 'c'], False, 'BETWEEN at the bigint NULL_VALUE boundary (-9223372036854775807 low bound)', {'c': 'STRING'}),
    ('dialect_issue1332_null_bat', SCRIPT_ISSUE1332F, 18, ['a', 'b', 'c'], False, 'NOT IN / IN / IS NULL battery over boundary bigints (IN (NOT NULL) evaluates NULL)', {'c': 'STRING'}),
    ('dialect_issue1332_year3', SCRIPT_ISSUE1332F, 21, ['a', 'b', 'c'], False, "3-digit-year temporal literal BETWEEN ('111-11-10' reads year 0111)", {'c': 'STRING'}),
    ('dialect_issue1332_single', SCRIPT_ISSUE1332F, 75, ['a'], False, 'single-column boundary battery after re-create (empty range)'),
    ('dialect_issue682_zerodate', SCRIPT_ISSUE682F, 0, ['a'], False, "zero-date inserts under strict-without-NO_ZERO_DATE (issue682 NOT NULL legs; zero date stored as the 0001-01-01 sentinel, rendered verbatim '0000-00-00' — IS NULL matches via MySQL's NOT-NULL-column quirk)", None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_zerodel', SCRIPT_ISSUE682F, -1, ['a'], False, 'IS NULL / =0 / =string deletes over zero-date rows leave the datetime table empty', None, {'zd': {'a': 'ts'}}),
    ('dialect_issue682_nullable', SCRIPT_ISSUE682_NULLABLE, 0, ['a'], False, "NULLABLE date column: zero dates stay DISTINCT from true NULL (issue682 lines 29-42 — 2 sentinel rows + 2 NULLs + real date, rendered '0000-00-00')", None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_null_isnull', SCRIPT_ISSUE682_NULLABLE, 1, ['a'], False, 'IS NULL over a nullable date sees ONLY the true NULLs (2 of 4), not the zero dates', None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_null_final', SCRIPT_ISSUE682_NULLABLE, -1, ['a'], False, 'after deleting IS NULL rows and the real date, the two zero dates survive', None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_time', SCRIPT_ISSUE682_TIME, 0, ['a'], False, "zero TIME is the VALID value '00:00:00' (not a NULL-like zero date): inserts of 0 and IGNOREd NULLs all render 00:00:00"),
    ('dialect_issue682_time_final', SCRIPT_ISSUE682_TIME, -1, ['a'], False, 'IS NULL never matches zero TIME; a=0 and the string compare empty the table'),
    ('dialect_issue682_join_date', SCRIPT_ISSUE682_JOINS, 1, ['a', 'a2', 'b'], False, "LEFT JOIN over a NOT NULL date with a stored zero date: the OR b IS NULL select returns all 4 rows incl. '0000-00-00'", None, {'zd': {'b': 'date'}}),
    ('dialect_issue682_join_time', SCRIPT_ISSUE682_JOINS, 3, ['a', 'a2', 'b'], False, "LEFT JOIN over a NOT NULL TIME with a stored zero time: all 4 rows incl. '00:00:00'"),
    ('dialect_issue682_nzd', SCRIPT_ISSUE682_NZD, 0, ['a'], False, "strict + NO_ZERO_DATE: plain zero insert errors 1292 but INSERT IGNORE stores it (1264 warning path) and ignored NULLs take the zero implicit default - 2 zero rows + the real date", None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_nzd_isnull', SCRIPT_ISSUE682_NZD, 1, ['a'], False, 'IS NULL still matches the stored zero dates (warning, not error, on SELECT)', None, {'zd': {'a': 'date'}}),
    ('dialect_issue682_nzd_final', SCRIPT_ISSUE682_NZD, -1, ['a'], False, 'the IS NULL / =0 deletes error 1292 under NO_ZERO_DATE re-validation; only the string-compare delete lands, leaving the 2 zero rows', None, {'zd': {'a': 'date'}}),
    ('dialect_issue1108', SCRIPT_ISSUE1108, 0, None, False, 'SHOW VARIABLES over the tianmu sysvar surface: delete_or_update_threads build default 0 (ha_tianmu.cpp:2624)', None, {'show': 0}),
    ('dialect_issue1131_engine_var', SCRIPT_ISSUE1131F, 0, None, False, "SHOW VARIABLES '%_engine' under tianmu_mandatory toggles: default_storage_engine TIANMU + default_tmp_storage_engine InnoDB", None, {'show': 1}),
    ('dialect_issue1131_engine_set', SCRIPT_ISSUE1131F, 0, None, False, "after SET default_storage_engine=innodb the probe renders InnoDB (session SET tracking)", None, {'show': 9}),
    ('dialect_issue781_safemode', SCRIPT_ISSUE781F, 2, ['d1', 'd2'], False, 'safe-mode UPDATE battery over a no-PK table: IN/NOT IN/eq/neq/EXISTS+LIMIT predicates with reinserts (19 selects; excerpt lines 1-349 of 3104 — the later sections repeat the battery under PK/safe-mode toggles; JSON tail unsupported per limits.md)'),
    ('dialect_issue781_exists_limit', SCRIPT_ISSUE781F, 13, ['d1', 'd2'], False, 'UPDATE ... WHERE EXISTS(...) LIMIT 1 leg of the safe-mode battery'),
    ('dialect_issue1910_nullrow', SCRIPT_ISSUE1910F, 0, ['v'], False, 'NULL-start @row1 accumulator in a derived table joined ON 1 = 1 (every row NULL per r/issue1910.result)'),
    ('dialect_issue1910_noon', SCRIPT_ISSUE1910F, 5, ['id', 'created_date', 'name', 'price', 'rowno'], False, 'INNER JOIN of a FROM-less var derived table with no ON (MySQL cross-join semantics)', {'price': 'DOUBLE'}),
    ('dialect_issue1910_truthyon', SCRIPT_ISSUE1910F, 6, ['v', 'id', 'created_date', 'name', 'price'], False, 'LEFT JOIN ... ON created_date: bare TIMESTAMP column as join condition via numeric truthiness', {'v': 'DOUBLE', 'price': 'DOUBLE'}),
    ('dialect_issue1910_strlit', SCRIPT_ISSUE1910F, 7, ['abc', 'id', 'name', 'price'], False, "(SELECT 'abc') derived column named by its text, referenced qualified in ON", {'price': 'DOUBLE'}),
    ('dialect_issue1910_nested', SCRIPT_ISSUE1910F, 9, ['id1', 'created_date', 'name1', 'price1', 'rowno', 'id2', 'name2', 'price2', 'one', 'nm'], False, 'triple-nested derived joins with ON t2.price truthiness and scalar-subquery equality, LIMIT 10', {'price1': 'DOUBLE', 'price2': 'DOUBLE'}),
    ('dialect_issue1910_digitcol', SCRIPT_ISSUE1910F, 10, ['rowno', 'one', 'id1', 'name1', 'price1', 'id2', 'name2', 'price2'], False, 'ON b.1: digit-named derived column as truthy join condition; RIGHT JOIN ON t2.id', {'price1': 'DOUBLE', 'price2': 'DOUBLE'}),
    ('dialect_issue1910_semifinal', SCRIPT_ISSUE1910F, 11, ['name1', 'id', 'name2', 'price'], False, 'derived-vs-filtered-subquery INNER JOIN with constant equality ON', {'price': 'DOUBLE'}),
    ('dialect_issue1696_counter', SCRIPT_ISSUE1696F, 0, ['id1', 'value1', 'id2', 'value2', 'id3', 'value3', 'counter'], False, 'IF(@c != 1, @c, @c := @c + 1) with @c = 0: assignment branch unreachable, folds to the constant (24-row 3-way join)'),
    ('dialect_issue1696_rec1', SCRIPT_ISSUE1696F, 1, ['rankno'], False, 'sequential rank-vs-value recurrence over equal rows via recursive CTE (expected 2,1,2)'),
    ('dialect_issue1696_rec2', SCRIPT_ISSUE1696F, 2, ['rankno'], False, 'sequential rank-vs-value recurrence over 1,2,3 via recursive CTE (expected 2,3,4)'),
    ('dialect_issue1034_alterpk', SCRIPT_ISSUE1034F, 0, ['probe'], False, 'ADD/DROP PRIMARY KEY x198 with ALGORITHM=DEFAULT/COPY under tianmu_index_search toggles; ALGORITHM=INPLACE raises the 1845 analog (documented probe select)'),
    ('dialect_issue1616_updignore', SCRIPT_ISSUE1616F, 1, ['id', 'parent_id', 'level'], False, 'UPDATE IGNORE id=id+1 over a single-column PK skips the row colliding with a pre-statement key ({3,4} -> {3,5})'),
    ('dialect_issue1616_dtabort', SCRIPT_ISSUE1616F, 4, ['dt', 'val'], False, 'UPDATE to a duplicate DATETIME PK aborts with the 1062 analog, table unchanged'),
    ('dialect_issue1616_composite', SCRIPT_ISSUE1616F, 5, ['id', 'parent_id', 'level'], False, 'UPDATE IGNORE over a composite PK applies the whole statement ({3,4} -> {4,5} per r/issue1616.result)'),
    ('dialect_issue1616_innodb', SCRIPT_ISSUE1616F, 6, ['id', 'parent_id', 'level'], False, 'innodb comparison leg: duplicate-PK UPDATE aborts, table unchanged'),
    ('dialect_issue1637_insignore', SCRIPT_ISSUE1637F, 0, ['id', 'name'], False, 'INSERT IGNORE duplicate-PK skip keeps the first row (mysqltest sleep dropped)'),
    ('dialect_issue1006_load', SCRIPT_ISSUE1006F, 0, ['probe'], False, 'TPC-H-orders LOAD DATA with ENCLOSED BY + INTO OUTFILE verified byte-per-line via the --diff_files analog against std_data/issue1006.txt (documented probe select)'),
    ('dialect_issue1897_rownum', SCRIPT_ISSUE1897F, 0, ['rn'], False, 'inline-init @row := @row + 1 over t1: sequential row numbers (order-free multiset {1..4})'),
    ('dialect_issue1897_inde', SCRIPT_ISSUE1897F, 1, ['inde'], False, 'multi-var inline init (@rownum1/@pxydm1/@rankno1) with only the counter projected'),
    ('dialect_issue1897_groupid', SCRIPT_ISSUE1897F, 2, ['id', 'name', 'group_id', 'prev_value'], False, 'running group-id idiom @v := IF(name = @prev, @v, @v + 1) as DENSE_RANK over the change key'),
    ('dialect_issue1897_joinrow', SCRIPT_ISSUE1897F, 3, ['name', 'id', 'sort_no'], False, 'var-bearing derived table joined ON 1 = 1 (counter column unprojected)'),
    ('dialect_issue1707_cutoff', SCRIPT_ISSUE1707F, 0, ['age_cutoff'], False, '@var := col assignment-expression value over a UNION ALL derived chain'),
    ('dialect_issue1903_rank1', SCRIPT_ISSUE1903F, 0, ['currency_id', 'account_id', 'fiscal_date', 'balance', 'inde', 'rankno', 'pxydm1'], False, 'session-var rank idiom, first execution: vectorized-stateless per r/issue1903.result (rankno=1 on all 12 rows, NULL-start @rownum stays NULL)', {'currency_id': 'DOUBLE', 'account_id': 'DOUBLE', 'balance': 'DOUBLE', 'pxydm1': 'DOUBLE'}),
    ('dialect_issue1903_rank2', SCRIPT_ISSUE1903F, 1, ['currency_id', 'account_id', 'fiscal_date', 'balance', 'inde', 'rankno', 'pxydm1'], False, 'session-var rank idiom, repeat execution: row-sequential per r/issue1903.result (ROW_NUMBER over account_id partitions; 4 group-first rows)', {'currency_id': 'DOUBLE', 'account_id': 'DOUBLE', 'balance': 'DOUBLE', 'pxydm1': 'DOUBLE'}),
    ('dialect_issue1065_procgen', SCRIPT_ISSUE1065F, 0, ['probe'], False, 'RAND()-based generator procedures created/dropped across tianmu_mandatory toggles (never CALLed; documented probe select)'),
    ('dialect_proc_select_assign', SCRIPT_PROCEDUREF, 0, ['s', 'd'], False, 'CALL with in-SELECT @var := assignments expanded to SET + bare expression (verbatim procedure.test)'),
    ('dialect_proc_while_str', SCRIPT_PROCEDUREF, 4, ['s'], False, 'WHILE loop building a CONCAT string local (DuckDB-folded per iteration)'),
    ('dialect_proc_repeat', SCRIPT_PROCEDUREF, 5, ['s'], False, 'REPEAT … UNTIL unrolled concretely'),
    ('dialect_proc_loop_iterate', SCRIPT_PROCEDUREF, 6, ['s'], False, 'labeled LOOP with LEAVE + ITERATE and MOD-conditional CONCAT'),
    ('dialect_proc_case_sel', SCRIPT_PROCEDUREF, 9, ['v'], False, 'CASE … WHEN THEN SELECT branches: only the matching branch emits (empty ELSE BEGIN END emits nothing)'),
    ('dialect_proc_doiterate', SCRIPT_PROCEDUREF, 13, ['x'], False, 'doiterate labeled LOOP over an IN param with LEAVE/ITERATE; ALTER PROCEDURE COMMENT ignored'),
]


def _make(script: str, designated: int, out_names, final_casts=None,
          show=None, zerodate_render=None):
    def build(spark, sf_dir):  # sf_dir unused: data is inline in the script
        return run_script(spark, script, designated, out_names, final_casts,
                          show_designated=show,
                          zerodate_render=zerodate_render)

    return build


def _register_specs() -> None:
    """Register every entry whose oracle compiles.  An entry whose
    script reads a ``LOAD DATA`` fixture missing under
    ``STONEDB_MTR_DIR`` is left out (one log line names them all)."""
    skipped = []
    for name, script, desig, names, isc, doc, *extra in _SPECS:
        fc = extra[0] if extra else None
        opts = extra[1] if len(extra) > 1 else {}
        try:
            oracle = build_oracle_sql(
                script, desig, names, int_sum_cast=isc, final_casts=fc,
                show_designated=opts.get("show"),
                zerodate_render=opts.get("zd"),
            )
        except FileNotFoundError:
            skipped.append(name)
            continue
        register(
            name,
            oracle=oracle,
            doc=doc + " (verbatim MTR: " + SOURCES[name][0] + ")",
        )(_make(script, desig, names, fc, opts.get("show"), opts.get("zd")))
    if skipped:
        _log.warning(
            "%d dialect entries not registered (fixture missing under "
            "STONEDB_MTR_DIR=%s): %s",
            len(skipped), MYSQL_TEST_DIR, ", ".join(skipped),
        )


_register_specs()
